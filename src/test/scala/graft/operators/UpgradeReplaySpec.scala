package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** Cross-version replay compatibility: pre-r9 binaries keyed Seq-shaped
  * add segments as `add-<md5(sorted batch)>`; the current content key is
  * the order-independent `bit_xor(xxhash64)` digest. An at-least-once
  * replay (streaming checkpoint recovery across an upgrade) of a batch
  * the OLD binary installed must stay a quiet no-op — the Seq overloads
  * probe the legacy name before delegating to the DataFrame path, so the
  * replay never reaches the id guard's loud "already indexed" failure.
  */
class UpgradeReplaySpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  // the PRE-r9 content keys, reproduced exactly (id big-endian longs,
  // float bits / UTF-8 text + NUL separator, batch sorted by id,
  // first 8 digest bytes hex)
  private def legacyVecKey(batch: Seq[(Long, Array[Float])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    batch.sortBy(_._1).foreach { case (id, vf) =>
      bb.clear(); bb.putLong(id); md.update(bb.array(), 0, 8)
      vf.foreach { x =>
        bb.clear(); bb.putInt(java.lang.Float.floatToIntBits(x))
        md.update(bb.array(), 0, 4)
      }
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def legacyDocKey(batch: Seq[(Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    batch.sortBy(_._1).foreach { case (id, text) =>
      bb.clear(); bb.putLong(id); md.update(bb.array(), 0, 8)
      md.update(text.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def segmentNames(lake: String): Set[String] = {
    val d = new java.io.File(s"$lake/deltas")
    Option(d.listFiles()).toSeq.flatten.map(_.getName).toSet
  }

  // model the upgraded lake faithfully: install the batch with the
  // CURRENT binary (real tables, real marker), then rename its segment
  // dir to the name the pre-r9 binary would have used — byte-identical
  // to what an old binary actually left behind
  private def renameToLegacy(lake: String, before: Set[String],
      legacyKey: String): Unit = {
    val fresh = (segmentNames(lake) -- before).toSeq
    assert(fresh.length == 1, s"expected exactly one new segment, got $fresh")
    val from = new java.io.File(s"$lake/deltas/${fresh.head}")
    val to = new java.io.File(s"$lake/deltas/add-$legacyKey")
    assert(from.renameTo(to), s"fixture rename failed: $from -> $to")
  }

  test("vector batch installed under the legacy md5 name replays as a no-op") {
    withTempRoot {
      val sim = new Similarity(Tuning(annQueries = 3, lloydIters = 1,
        nprobe = 2, pqCentroids = 8))
      sim.ensureIndex(spark, sf)
      val batch = Seq(
        910001L -> Array.tabulate(64)(i => if (i == 5) 5f else 0.01f),
        910002L -> Array.tabulate(64)(i => if (i == 9) 5f else 0.02f))
      val lake = sim.indexPath(sf)
      val before = segmentNames(lake)
      assert(sim.addVectors(spark, sf, batch), "fixture install failed")
      renameToLegacy(lake, before, legacyVecKey(batch))
      val upgraded = segmentNames(lake)

      assert(!sim.addVectors(spark, sf, batch),
        "replay of a legacy-keyed batch must no-op, not install or throw")
      assert(segmentNames(lake) == upgraded,
        "legacy replay installed a duplicate segment under the new key")

      // the legacy segment serves, and a genuinely NEW batch still installs
      val top = sim.search(spark, sf, Seq(42L -> batch.head._2), k = 1)
        .collect().head
      assert(top.getAs[Long]("n_id") == 910001L,
        "legacy-named segment no longer served after the rename")
      assert(sim.addVectors(spark, sf,
        Seq(910003L -> Array.tabulate(64)(i => if (i == 13) 5f else 0.03f))))
    }
  }

  test("document batch installed under the legacy md5 name replays as a no-op") {
    withTempRoot {
      val dd = new Dedup(Tuning())
      dd.ensureSigIndex(spark, sf)
      val batch = Seq(
        920001L -> "the quick brown fox jumps over the lazy dog again today",
        920002L -> "another perfectly ordinary document with enough words to shingle")
      val lake = dd.sigPath(sf)
      val before = segmentNames(lake)
      assert(dd.addDocs(spark, sf, batch), "fixture install failed")
      renameToLegacy(lake, before, legacyDocKey(batch))
      val upgraded = segmentNames(lake)

      assert(!dd.addDocs(spark, sf, batch),
        "replay of a legacy-keyed batch must no-op, not install or throw")
      assert(segmentNames(lake) == upgraded,
        "legacy replay installed a duplicate segment under the new key")

      // the legacy segment serves, and a genuinely NEW batch still installs
      val probe = dd.serveNearDups(spark, sf, Seq(777000L -> batch.head._2))
        .collect().map(_.getLong(1)).toSet
      assert(probe(920001L),
        "legacy-named segment no longer served after the rename")
      assert(dd.addDocs(spark, sf,
        Seq(920003L -> "a third fresh document with plenty of words to produce shingles")))
    }
  }
}
