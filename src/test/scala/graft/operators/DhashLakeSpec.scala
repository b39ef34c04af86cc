package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** The dHash perceptual-dedup lake: serve semantics (fresh decode +
  * dHash probing the stored band index, Hamming verify, self-hit
  * exclusion, audio/opaque probes emit nothing), the injected fixture
  * near-dup pairs, and the delta-segment DML lifecycle (add / replay
  * no-op / id conflicts / compaction / vacuum / streaming ingest) with
  * from-scratch collect-equality.
  */
class DhashLakeSpec extends SparkTestBase {
  import Multimodal.MediaFixtures

  /** A corpus dir whose media lake holds exactly the fixture blobs of
    * `ids` — documents rows exist only to drive MediaLake's id scan.
    */
  private def writeCorpus(root: String, ids: Seq[Long]): String = {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(root), "corpus").toString
    ids.toDF("doc_id")
      .withColumn("text", concat(lit("doc "), $"doc_id"))
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private val ops = new MediaDedup(Tuning())

  private def serve(dir: String, probes: Seq[(Long, Array[Byte])])
      : Set[(Long, Long, Long)] = {
    import spark.implicits._
    ops.serveDhashMatches(spark, dir, probes.toDF("doc_id", "blob"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  // ids 0..21: ppm (0,4,…), wav (1,5,…), png (2,6,…), jpeg (3,7,11,
  // 15,19) — including both injected classes (19 exact dup of 11,
  // 15 one-quant-step near-dup of 7)
  private val baseIds: Seq[Long] = 0L until 22L

  test("a probe batch far larger than the corpus serves probe-bounded") {
    withTempRoot {
      withTempDir("graft-dhash") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseIds)
        // 1000 probes generated EXECUTOR-side, each replaying fixture id
        // 11's bytes under a fresh id: the serve's only materialized
        // frame is the probe signatures (1000 rows, never corpus-shaped
        // — the large-probe localCheckpoint audit; the m-decade twin is
        // `Probe serve` bigdhash cell)
        val probes = spark.range(1000)
          .map(i => (5000L + i, MediaFixtures.jpeg(11L)))
          .toDF("doc_id", "blob")
        val out = ops.serveDhashMatches(spark, dir, probes)
          .groupBy($"probe_id").count().collect()
        // every probe matches the stored 11 AND its byte-replay 19
        assert(out.length == 1000)
        assert(out.forall(_.getLong(1) == 2L))
      }
    }
  }

  test("injected fixture pairs surface as perceptual matches; serve excludes self") {
    withTempRoot {
      withTempDir("graft-dhash") { tmp =>
        val dir = writeCorpus(tmp, baseIds)
        // probe = a NEW id carrying 11's exact image bytes
        val hits = serve(dir, Seq((9001L, MediaFixtures.jpeg(11L))))
        assert(hits.contains((9001L, 11L, 0L)), s"exact replica missed: $hits")
        assert(hits.contains((9001L, 19L, 0L)), "the injected exact-dup row missed")
        // the near-dup fixture (block-0 luma +1) still matches its
        // source — dHash's luma-shift invariance
        val nd = serve(dir, Seq((9003L, MediaFixtures.jpeg(15L))))
        assert(nd.exists { case (p, m, h) => p == 9003L && m == 7L && h <= 3L },
          s"near-dup probe missed its source: $nd")
        // the RESIZED pair (ppm 12 = 2× NN upscale of ppm 4): dHash's
        // headline claim — resize invariance — gate-exercised. A probe
        // carrying the upscaled bytes matches BOTH the stored copy and
        // its differently-sized source at hamming 0 (integer NN
        // upscaling commutes with the 9×8 NN downscale exactly)
        val rz = serve(dir, Seq((9004L, MediaFixtures.ppm(12L))))
        assert(rz.contains((9004L, 12L, 0L)), s"resized copy missed: $rz")
        assert(rz.contains((9004L, 4L, 0L)),
          s"resize SOURCE missed at hamming 0: $rz")
        // audio probes decode no raster and emit nothing
        assert(serve(dir, Seq((9002L, MediaFixtures.wav(1L)))).isEmpty)
        // a replayed corpus member never reports itself
        val self = serve(dir, Seq((11L, MediaFixtures.jpeg(11L))))
        assert(!self.exists(t => t._2 == 11L))
      }
    }
  }

  test("DML: add/replay/conflict, from-scratch sig equality, serve sees segments") {
    withTempRoot {
      withTempDir("graft-dhash") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseIds)
        MediaDedup.ensureDhash(spark, dir)
        val adds0 = MediaDedup.adds.get()
        // a new doc carrying a replica of 11's image
        val batch = Seq((100L, MediaFixtures.jpeg(11L)),
          (101L, MediaFixtures.ppm(40L)), (102L, MediaFixtures.wav(5L)))
        assert(MediaDedup.addMedia(spark, dir, batch.toDF("doc_id", "blob")))
        assert(MediaDedup.adds.get() == adds0 + 1)
        // replay no-ops off the content key, row order irrelevant
        assert(!MediaDedup.addMedia(spark, dir,
          batch.reverse.toDF("doc_id", "blob")))
        assert(MediaDedup.adds.get() == adds0 + 1)
        // a held id (even an AUDIO doc's) conflicts loudly
        val ex = intercept[IllegalArgumentException](
          MediaDedup.addMedia(spark, dir,
            Seq((102L, MediaFixtures.ppm(0L))).toDF("doc_id", "blob")))
        assert(ex.getMessage.contains("102"))
        // serve now reaches the segment layer
        val hits = serve(dir, Seq((9001L, MediaFixtures.jpeg(11L))))
        assert(hits.contains((9001L, 100L, 0L)), s"segment match missed: $hits")
        // live sig ≡ from-scratch derivation over corpus ∪ batch
        val live = MediaDedup.liveTable(spark, dir, "sig")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        val scratch = MediaDedup.sigOf(
          baseIds.map(id => (id, MediaFixtures.blobFor(id)))
            .++(batch).toDF("doc_id", "blob"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        assert(live == scratch)
      }
    }
  }

  test("the stored band ledger equals a live-bands recount across build/add/compact") {
    withTempRoot {
      withTempDir("graft-dhash") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseIds)
        def check(step: String): Unit = {
          val ledger = MediaDedup.liveOverBands(spark, dir, cap = 0)
            .collect().map(_.getLong(0)).toSet  // cap 0: EVERY live key
          val recount = MediaDedup.liveTable(spark, dir, "bands")
            .select($"band_key").distinct().as[Long].collect().toSet
          assert(ledger == recount, s"$step: ledger keys drifted")
          // and the summed counts agree, not just the key set
          val lc = MediaDedup.liveTable(spark, dir, "band_stats")
            .groupBy($"band_key").agg(sum($"cnt").as("cnt"))
            .as[(Long, Long)].collect().toMap
          val rc = MediaDedup.liveTable(spark, dir, "bands")
            .groupBy($"band_key").agg(count(lit(1)).as("cnt"))
            .as[(Long, Long)].collect().toMap
          assert(lc == rc, s"$step: ledger counts drifted")
        }
        MediaDedup.ensureDhash(spark, dir)
        check("fresh build")
        assert(MediaDedup.addMedia(spark, dir,
          Seq((200L, MediaFixtures.jpeg(11L)), (201L, MediaFixtures.jpeg(11L)))
            .toDF("doc_id", "blob")))
        check("after duplicate-heavy add")
        assert(MediaDedup.compactDhash(spark, dir))
        check("after compact")
      }
    }
  }

  test("folds trigger past maxSegments; vacuum reclaims; vacuumed replays no-op") {
    withTempRoot {
      withTempDir("graft-dhash") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseIds)
        MediaDedup.ensureDhash(spark, dir)
        val folds0 = MediaDedup.compactions.get()
        val b1 = Seq((200L, MediaFixtures.png(2L)))
        val b2 = Seq((201L, MediaFixtures.jpeg(7L)))
        assert(MediaDedup.addMedia(spark, dir,
          b1.toDF("doc_id", "blob"), maxSegments = 1))
        assert(MediaDedup.addMedia(spark, dir,
          b2.toDF("doc_id", "blob"), maxSegments = 1))
        assert(MediaDedup.compactions.get() > folds0,
          "the second segment must trip the auto-fold")
        assert(MediaDedup.vacuumDhash(spark, dir) > 0)
        // the vacuumed batch's replay still no-ops (consumed.txt)
        val adds0 = MediaDedup.adds.get()
        assert(!MediaDedup.addMedia(spark, dir, b1.toDF("doc_id", "blob")))
        assert(MediaDedup.adds.get() == adds0)
        // serving over the folded generation still sees both layers
        val hits = serve(dir, Seq((9001L, MediaFixtures.jpeg(7L))))
        assert(hits.exists(t => t._2 == 201L), s"folded layer lost: $hits")
      }
    }
  }

  test("streaming ingest: one segment per micro-batch, replay heals") {
    withTempRoot {
      withTempDir("graft-dhash") { tmp =>
        import spark.implicits._
        val dir = writeCorpus(tmp, baseIds)
        MediaDedup.ensureDhash(spark, dir)
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Byte])](spark)
        val ck = s"$tmp/ckpt"
        val q = MediaDedup.ingestMediaStream(dir,
          mem.toDF().toDF("doc_id", "blob"), ck)
        try {
          mem.addData((300L, MediaFixtures.jpeg(3L)))
          q.processAllAvailable()
          mem.addData((301L, MediaFixtures.png(6L)))
          q.processAllAvailable()
        } finally q.stop()
        val hits = serve(dir, Seq((9001L, MediaFixtures.jpeg(3L))))
        assert(hits.exists(t => t._2 == 300L), s"ingested doc missed: $hits")
        // a direct replay of the first micro-batch no-ops (content key)
        assert(!MediaDedup.addMedia(spark, dir,
          Seq((300L, MediaFixtures.jpeg(3L))).toDF("doc_id", "blob")))
      }
    }
  }

  test("dhashBands: flat rasters hash to 0; a single gradient sets exactly the crossing bits") {
    // 2×2 flat gray image → every grid cell equal → all bits 0
    val flat = Array.fill(4)(77.toByte)
    assert(MediaDedup.dhashBands(2, 2, 1, flat).toSeq == Seq(0, 0, 0, 0))
    // 9×8 gray ramp left→right: every adjacent pair increases → all
    // 64 bits set → every band 0xFFFF
    val ramp = Array.tabulate(9 * 8)(i => ((i % 9) * 10).toByte)
    assert(MediaDedup.dhashBands(9, 8, 1, ramp).toSeq ==
      Seq(0xffff, 0xffff, 0xffff, 0xffff))
    // RGB luma: pure-blue vs pure-red columns order by 114 vs 299
    val rb = Array.tabulate(2 * 3)(i =>
      (if (i < 3) (if (i == 2) 255 else 0) else (if (i == 3) 255 else 0)).toByte)
    // col0 = blue (luma 29), col1 = red (luma 76) → all rows see
    // one rising edge at x=0 and equality elsewhere (1×1 grid cells
    // repeat the NN-sampled columns)
    val bands = MediaDedup.dhashBands(2, 1, 3, rb)
    assert(bands.forall(b => b >= 0))
    val bits = (0 until 64).count(bi =>
      (bands(bi / 16) >> (bi % 16) & 1) == 1)
    // NN over w=2 → sx = ox*2/9: cols 0..3 sample x=0, 4..8 sample
    // x=1 → per row one rising edge at ox=3→4 (bit x=3), 8 rows
    assert(bits == 8, s"expected 8 rising-edge bits, got $bits")
  }
}
