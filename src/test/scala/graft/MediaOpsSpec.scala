package graft

import graft.multimodal.{MediaOps, MediaRecord, MediaMeta}

class MediaOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "image payload text here", "en", "s1", 23L),
    (1L, "audio payload somewhat longer text content", "en", "s1", 42L),
    (2L, "video payload " + ("frame " * 30), "en", "s1", 194L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("fromDocuments builds typed media records with opaque bytes + metadata") {
    val media = MediaOps.fromDocuments(docs).collect().sortBy(_.media_id)
    assert(media.map(_.kind).toSeq === Seq("image", "audio", "video"))
    // the image payload is a REAL PNG file (magic bytes), not text
    assert(media(0).bytes.take(4) sameElements Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    // the audio payload is a REAL RIFF/WAVE file (magic bytes), not text
    assert(media(1).bytes.take(4) sameElements "RIFF".getBytes("US-ASCII"))
    assert(media(1).bytes.slice(8, 12) sameElements "WAVE".getBytes("US-ASCII"))
    // the video payload is a REAL motion-PNG container: big-endian frame
    // count (n=194 → 194%6+2 = 4 frames), then length-prefixed PNG frames
    assert(media(2).meta.mime === "video/x-motion-png")
    assert(media(2).bytes.take(4) sameElements Array[Byte](0, 0, 0, 4))
    assert(media(2).bytes.slice(8, 12) sameElements
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
  }

  test("audioStats decodes real WAVs: header format facts + stable PCM checksum") {
    // doc 1: n_chars=42 → rate 8000 + (42%3)*4000 = 8000, 42%200+50 = 92
    // samples by construction
    val stats = MediaOps.audioStats(MediaOps.fromDocuments(docs)).collect()
    assert(stats.length === 1)
    val s = stats.head
    assert(s.doc_id === 1L)
    assert(s.sample_rate === 8000L)
    assert(s.n_samples === 92L)
    assert(s.duration_ms === 92L * 1000L / 8000L)
    // the decoded checksum must equal the direct fold of the generator
    // formula — proving decode recovers the exact sample sequence
    var h = 1125899906842597L
    (0 until 92).foreach { i =>
      val v = 1L * 6364136223846793005L + (i + 1) * 2654435761L
      h = 31 * h + ((v >>> 16) & 0xFFFF).toInt
    }
    assert(s.sample_checksum === h)
  }

  test("audioStats drops undecodable payloads instead of failing the job") {
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(
      MediaRecord(1L, "audio", MediaOps.wavBytes(1L, 8000, 10), MediaMeta("audio/wav", 0, 0, 1L)),
      MediaRecord(4L, "audio", "not a wav at all".getBytes("UTF-8"), MediaMeta("audio/wav", 0, 0, 1L))
    ).toDS()
    val stats = MediaOps.audioStats(media).collect()
    assert(stats.map(_.doc_id).toSeq === Seq(1L))
  }

  test("videoStats decodes real motion-PNG: frame count, dims, ordered checksum") {
    // doc 2: n=194 → 4 frames of 8×5; the decoded checksum must equal the
    // direct nested fold of the raster generator formula — proving the
    // container parse + per-frame PNG decode recover the exact rasters
    val stats = MediaOps.videoStats(MediaOps.fromDocuments(docs)).collect()
    assert(stats.length === 1)
    val s = stats.head
    assert(s.doc_id === 2L)
    assert(s.n_frames === 4L)
    assert((s.width, s.height) === ((8L, 5L)))
    val (w, h) = (8, 5)
    var outer = 1125899906842597L
    (0 until 4).foreach { f =>
      val seed = 2L * 1000003L + f
      var inner = 1125899906842597L
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val v = seed * 6364136223846793005L + (x * 31L + y * 131L + 17L) * 2654435761L
          inner = 31 * inner + ((v >>> 16) & 0xFFFFFF)
        }
      }
      outer = 31 * outer + inner
    }
    assert(s.frames_checksum === outer)
  }

  test("videoStats drops malformed containers instead of failing the job") {
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(
      MediaRecord(2L, "video", MediaOps.videoBytes(2L, 4, 3, 2),
        MediaMeta("video/x-motion-png", 4, 3, 80L)),
      MediaRecord(5L, "video", "definitely not frames".getBytes("UTF-8"),
        MediaMeta("video/x-motion-png", 4, 3, 80L))
    ).toDS()
    assert(MediaOps.videoStats(media).collect().map(_.doc_id).toSeq === Seq(2L))
  }

  test("snapshot-read media queries equal the direct-synthesis paths bit-for-bit") {
    // the parquet media snapshot must be a pure materialization: payload
    // bytes and metadata round-trip parquet exactly, so the three
    // snapshot-reading query paths must produce the same rows as decoding
    // the synthesized corpus directly
    val dir = java.nio.file.Files.createTempDirectory("graft_media_spec_").toString
    MediaOps.fromDocuments(docs).toDF().write.mode("overwrite").parquet(dir)
    val snap = spark.read.parquet(dir)
    assert(MediaOps.mediaFeatureStatsOf(snap).collect().toSeq ===
      MediaOps.mediaFeatureStatsOf(MediaOps.fromDocuments(docs).toDF()).collect().toSeq)
    assert(MediaOps.audioFeatureStatsOf(snap).collect().toSeq ===
      MediaOps.audioStats(MediaOps.fromDocumentsOf(docs, Some("audio")))
        .toDF().orderBy("doc_id").collect().toSeq)
    assert(MediaOps.videoFeatureStatsOf(snap).collect().toSeq ===
      MediaOps.videoStats(MediaOps.fromDocumentsOf(docs, Some("video")))
        .toDF().orderBy("doc_id").collect().toSeq)
    // the modality predicate must reach the parquet scan: a snapshot
    // consumer of one kind never reads the other two thirds' payload bytes
    val plan = MediaOps.audioFeatureStatsOf(snap)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("kind"),
      s"kind filter not pushed to the snapshot scan:\n${plan.take(1500)}")
  }

  test("q207 thumbnail: NN samples equal the raster formula on a hand image; corpus replay by real decode") {
    // hand raster: every thumbnail sample must equal the generator
    // formula at the NN coordinates — the decode→resample path end to end
    val w = 10; val h = 7; val seed = 3L
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MediaOps.pngBytes(seed, w, h)))
    val px = (0 until 16).map { t =>
      val x = (t % 4) * w / 4; val y = (t / 4) * h / 4
      val v = seed * 6364136223846793005L + (x * 31L + y * 131L + 17L) * 2654435761L
      ((v >>> 16) & 0xFFFFFF, img.getRGB(x, y) & 0xFFFFFF)
    }
    px.foreach { case (want, got) => assert(got.toLong === want) }
    // corpus: the graded query equals a driver replay through the real
    // decoder at sf0.001
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val real = MediaOps.thumbnailCensus(docs).collect()
    val want = docs.selectExpr("doc_id", "CAST(n_chars AS INT)")
      .where("doc_id % 3 = 0").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      .map { case (id, n) =>
        val (iw, ih) = (n % 16 + 4, n % 12 + 3)
        val im = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(MediaOps.pngBytes(id, iw, ih)))
        val ps = (0 until 16).map { t =>
          (im.getRGB((t % 4) * iw / 4, (t / 4) * ih / 4) & 0xFFFFFF).toLong
        }
        var acc = 1125899906842597L
        ps.foreach(p => acc = 31 * acc + p)
        (id, iw.toLong, ih.toLong, acc, ps.sum, ps.head)
      }
    assert(real.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq === want.toSeq)
    val reparted = MediaOps.thumbnailCensus(docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q223 dhash: hand bits exact; banding is pigeonhole-complete at Hamming<=3; over-cap buckets excluded; corpus laws") {
    // hand grid: luminances descending along each row → every comparison
    // lum(x) > lum(x+1) is true → all 64 bits set; ascending → none
    val desc = Array.tabulate(72)(t => (100 - t % 9).toLong)
    assert(MediaOps.dhashOf(desc) === -1L, "descending rows must set all 64 bits")
    val asc = Array.tabulate(72)(t => (t % 9).toLong)
    assert(MediaOps.dhashOf(asc) === 0L, "ascending rows must set no bits")
    // one strict drop at row 0 between x=2 and x=3 → exactly bit 2
    val oneBit = Array.tabulate(72)(t => if (t < 9 && t > 2) 0L else 5L)
    assert(MediaOps.dhashOf(oneBit) === 4L, "a single comparison sets its own bit")

    // PIGEONHOLE COMPLETENESS: any pair within Hamming 3 differs in at
    // most 3 of the 4 16-bit bands, so at least one band key matches and
    // the band equi-join MUST surface the pair. Plant pairs at every
    // distance 0..3 with the flipped bits scattered across bands (the
    // adversarial placement: 3 flips hitting 3 DIFFERENT bands leaves
    // exactly one matching band).
    val rnd = new scala.util.Random(223)
    val bases = (0 until 32).map(i => (i.toLong, rnd.nextLong()))
    val planted = bases.map { case (id, h) =>
      val d = (id % 4).toInt // distance 0..3
      // flip d bits in d DISTINCT bands: worst case for the pigeonhole
      val flipped = (0 until d).foldLeft(h)((acc, b) => acc ^ (1L << (b * 16 + (id % 16).toInt)))
      (id + 1000L, flipped)
    }
    val hand = (bases ++ planted).toDF("id", "h")
    val pairs = MediaOps.dhashPairs(hand).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    bases.foreach { case (id, _) =>
      val d = id % 4
      assert(pairs.get((id, id + 1000L)).contains(d),
        s"planted pair at Hamming $d must surface with its exact distance")
    }
    // random 64-bit hashes sit near Hamming 32: no unplanted pair passes
    // the verify unless genuinely close (none here, seeded)
    assert(pairs.keys.forall { case (a, b) => b - a === 1000L },
      "chance band collisions must be rejected by the exact popcount verify")

    // OVER-CAP EXCLUSION: a degenerate corpus (every hash identical)
    // collapses into single band buckets; with > cap members they are
    // excluded — a hard quadratic bound traded for in-bucket recall
    val degenerate = (0L until (MediaOps.PhBandBucketCap + 10L))
      .map(i => (i, 42L)).toDF("id", "h")
    assert(MediaOps.dhashPairs(degenerate).count() === 0L,
      "over-cap buckets must be excluded, not exploded quadratically")
    // at the cap boundary the bucket still pairs in full
    val atCap = (0L until MediaOps.PhBandBucketCap).map(i => (i, 42L)).toDF("id", "h")
    assert(MediaOps.dhashPairs(atCap).count() ===
      MediaOps.PhBandBucketCap * (MediaOps.PhBandBucketCap - 1) / 2)

    // corpus: planted brightness twins dominate, all within the radius,
    // and the artifact replays bit-identically under repartitioning
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = MediaOps.dhashNearDup(docs).collect()
    assert(rows.nonEmpty, "the planted twins guarantee a nonempty artifact")
    assert(rows.forall(_.getLong(2) <= MediaOps.PhHamK))
    val plantedRows = rows.filter(_.getBoolean(3))
    assert(plantedRows.nonEmpty)
    assert(plantedRows.count(_.getLong(2) === 0L) * 2 > plantedRows.length,
      "most brightness twins carry Hamming 0 (no channel wrapped)")
    val again = MediaOps.dhashNearDup(docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(_.toSeq).toSeq)
  }

  test("q225 dhash clusters: union-find laws, planted twins drop in favor of originals, singletons keep; replay") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = MediaOps.dhashClusters(docs).collect()
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // totality: every hashed id exactly once
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.length === MediaOps.imageDhashes(docs).count())
    // keep ⟺ the id IS its cluster label, and the label is the cluster min
    rows.foreach { r =>
      assert(r.getBoolean(2) === (r.getLong(0) === r.getLong(1)))
      assert(r.getLong(1) <= r.getLong(0), "cluster label must be the minimum")
    }
    // union-find law: endpoints of every surviving pair share a cluster
    val pairs = MediaOps.dhashNearDup(docs).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      assert(cluster(p.getLong(0)) === cluster(p.getLong(1)),
        s"pair ${p.getLong(0)}–${p.getLong(1)} split across clusters")
    }
    // planted twins cluster BELOW their originals: variant ids (offset
    // range) never survive as keepers of a multi-member cluster
    val planted = rows.filter(_.getLong(0) >= MediaOps.PhVariantOffset)
    assert(planted.nonEmpty)
    val paired = pairs.flatMap(p => Seq(p.getLong(0), p.getLong(1))).toSet
    planted.filter(r => paired(r.getLong(0))).foreach { r =>
      assert(!r.getBoolean(2),
        "a paired brightness twin must drop in favor of its original")
    }
    // replay invariance
    val again = MediaOps.dhashClusters(docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(_.toSeq).toSeq)
  }

  test("q227 incremental image dedup: arrival split equals the batch cross pairs; standing-index cap; broadcast probe plan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")

    // ARRIVAL-SPLIT LAW: against the same corpus, the incremental probe
    // must surface exactly the batch pair table's cross-split pairs
    // (a standing image paired with an arriving re-crawl). Precondition
    // for exact equality: no band bucket over cap on either census —
    // assert it, so a future corpus that breaks it fails loudly here.
    val hashes = MediaOps.imageDhashes(docs).localCheckpoint()
    val bandCensus = MediaOps.dhashBands(hashes)
      .groupBy("band", "bk").count()
    assert(bandCensus.filter(bandCensus("count") > MediaOps.PhBandBucketCap).isEmpty,
      "equality law precondition: no over-cap bucket at this sf")
    val batchCross = MediaOps.dhashNearDup(docs).collect()
      .filter(r => r.getLong(0) < MediaOps.PhVariantOffset &&
        r.getLong(1) >= MediaOps.PhVariantOffset)
      .map(_.toSeq).toSet
    val inc = MediaOps.incrementalDhashPairs(docs).collect()
    assert(inc.nonEmpty, "the planted re-crawl twins guarantee pairs")
    assert(inc.map(_.toSeq).toSet === batchCross,
      "incremental probe must equal the batch cross-split pairs")
    // every arriving image pairs only against the standing side
    assert(inc.forall(r => r.getLong(0) < MediaOps.PhVariantOffset &&
      r.getLong(1) >= MediaOps.PhVariantOffset))

    // STANDING-INDEX CAP: an over-cap standing bucket yields no
    // candidates for arrivals probing it (dropped on both sides)
    import spark.implicits._
    val hotCorpus = (0L until (MediaOps.PhBandBucketCap + 10L))
      .map(i => (i, 42L)).toDF("id", "h")
    val probe = Seq((MediaOps.PhVariantOffset + 1L, 42L)).toDF("id", "h")
    assert(MediaOps.incrementalDhashPairsFromHashes(hotCorpus, probe)
      .count() === 0L, "over-cap standing buckets must drop, not explode")
    // at the cap the arriving probe pairs against the whole bucket
    val atCap = (0L until MediaOps.PhBandBucketCap).map(i => (i, 42L))
      .toDF("id", "h")
    assert(MediaOps.incrementalDhashPairsFromHashes(atCap, probe)
      .count() === MediaOps.PhBandBucketCap)

    // PLAN SHAPE: the arriving side broadcasts; the standing index is
    // probed in place — no sort-merge join anywhere in the probe plan
    val plan = MediaOps.incrementalDhashPairs(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the increment band probe must be a broadcast hash join")
    assert(!plan.contains("SortMergeJoin"),
      s"standing side must never shuffle for the probe:\n${plan.take(800)}")

    // replay invariance
    val again = MediaOps.incrementalDhashPairs(docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === inc.map(_.toSeq).toSeq)
  }

  test("q228 audio fingerprint: hand contours exact; amplitude-twin invariance; short-clip windows; corpus banded recall") {
    // hand contours: strictly decreasing window means → every comparison
    // true → all 64 bits; increasing → none. 130 samples = 2 per window.
    val dec = Array.tabulate(130)(i => 65000 - (i / 2) * 100)
    assert(MediaOps.afFingerprintOf(dec) === -1L)
    val incS = Array.tabulate(130)(i => (i / 2) * 100)
    assert(MediaOps.afFingerprintOf(incS) === 0L)
    // a single mean drop between windows 3 and 4 sets exactly bit 3
    val oneDrop = Array.tabulate(130)(i => if (i / 2 == 3) 500 else 100)
    // window 3 > window 2? 500>100 → bit 2 also... bits 2 and 3 differ:
    // rising INTO window 3 sets nothing (100 < 500 at b=2 means
    // sums(2)<sums(3): bit 2 NOT set); falling OUT of it sets bit 3
    assert(MediaOps.afFingerprintOf(oneDrop) === 8L)

    // AMPLITUDE-TWIN INVARIANCE: +1 per sample without a 65535 wrap
    // shifts every window mean equally → identical fingerprint
    val base = Array.tabulate(200)(i => (i * 317) % 60000)
    assert(MediaOps.afFingerprintOf(base.map(s => (s + 1) % 65536)) ===
      MediaOps.afFingerprintOf(base), "wrap-free +1 must be Hamming 0")
    // a wrapping sample (65535→0) can move only its own window's mean:
    // the distance stays within the 2 comparisons that window touches
    val wrapped = base.updated(100, 65535)
    val d = java.lang.Long.bitCount(
      MediaOps.afFingerprintOf(wrapped.map(s => (s + 1) % 65536)) ^
        MediaOps.afFingerprintOf(wrapped))
    assert(d <= 2, s"a single wrap may flip at most its window's 2 comparisons, got $d")

    // SHORT CLIPS: n < 65 leaves empty windows; their comparisons are
    // deterministically false on both engines (0 > 0) — the fingerprint
    // is still defined and total
    val short = Array.tabulate(50)(i => i * 1000)
    assert(java.lang.Long.bitCount(MediaOps.afFingerprintOf(short)) <= 49)

    // corpus: universe matches the formula enumeration (every audio doc
    // hashes; the md5-selected quarter adds its twin), planted twins
    // dominate the pair table and mostly sit at Hamming 0
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fps = MediaOps.audioFingerprints(docs).collect()
    val nAudio = docs.filter("doc_id % 3 = 1").count()
    assert(fps.count(_.getLong(0) < MediaOps.PhVariantOffset) === nAudio)
    val rows = MediaOps.audioNearDup(docs).collect()
    assert(rows.nonEmpty, "planted amplitude twins guarantee pairs")
    assert(rows.forall(_.getLong(2) <= MediaOps.PhHamK))
    val planted = rows.filter(_.getBoolean(3))
    assert(planted.nonEmpty)
    assert(planted.count(_.getLong(2) === 0L) * 2 > planted.length,
      "most amplitude twins carry Hamming 0 (no sample wrapped)")
    // BANDED RECALL: every planted twin whose true distance is within
    // the radius MUST surface (pigeonhole over the shared 4x16 bands) —
    // recompute truth directly from the fingerprint table
    val byId = fps.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val surfaced = planted.map(r => (r.getLong(0), r.getLong(1))).toSet
    byId.keys.filter(_ >= MediaOps.PhVariantOffset).foreach { vid =>
      val oid = vid - MediaOps.PhVariantOffset
      val trueD = java.lang.Long.bitCount(byId(vid) ^ byId(oid))
      if (trueD <= MediaOps.PhHamK)
        assert(surfaced((oid, vid)),
          s"twin ($oid,$vid) at true Hamming $trueD missed by the bands")
    }
    // replay invariance
    val again = MediaOps.audioNearDup(docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(_.toSeq).toSeq)
  }

  test("q229 video keyframe dup: keyframe hash is the frame-0 identity; corpus laws; shared-primitive replay") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // KEYFRAME IDENTITY: the hash of each video equals the dHash of its
    // frame-0 PNG decoded STANDALONE (container parse + frame extraction
    // must be the identity on the raster — the q93 law at the hash level)
    val hashes = MediaOps.videoKeyframeHashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sample = docs.filter("doc_id % 3 = 2")
      .selectExpr("doc_id", "CAST(n_chars AS INT) AS n")
      .limit(5).collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val (id, n) = (r.getLong(0), r.getInt(1))
      val png = MediaOps.pngBytes(MediaOps.vidFrameSeed(id, 0),
        MediaOps.vidWidth(n), MediaOps.vidHeight(n))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val expected = MediaOps.dhashOf(
        MediaOps.nnSample(img, MediaOps.PhGridW, MediaOps.PhGridH)
          .map(v => ((v >> 16) & 0xFF) + ((v >> 8) & 0xFF) + (v & 0xFF)))
      assert(hashes(id) === expected,
        s"video $id keyframe hash must equal its standalone frame-0 dHash")
    }
    // universe: every video hashes once, the md5-selected quarter twice
    val nVideo = docs.filter("doc_id % 3 = 2").count()
    assert(hashes.keys.count(_ < MediaOps.PhVariantOffset) === nVideo)
    // corpus laws: nonempty, in-radius, twins dominate at Hamming 0
    val rows = MediaOps.videoKeyframeDup(docs).collect()
    assert(rows.nonEmpty, "planted keyframe twins guarantee pairs")
    assert(rows.forall(_.getLong(2) <= MediaOps.PhHamK))
    val planted = rows.filter(_.getBoolean(3))
    assert(planted.nonEmpty)
    assert(planted.count(_.getLong(2) === 0L) * 2 > planted.length)
    // replay invariance
    val again = MediaOps.videoKeyframeDup(docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(_.toSeq).toSeq)
  }
}
