package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** The stored signature-lake contract — the vector store's build-once/
  * serve-many property applied to the dedup tier: banded MinHash
  * signatures built once per (sf dir, signature knobs, data
  * fingerprint), installed by staged rename, REUSED by later sessions,
  * probed incrementally by serving batches, and extended/retired by
  * content-keyed DML segments.
  */
class DedupLakeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private val knobs = Tuning()

  private def mtimes(dir: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getAbsolutePath -> f.lastModified)
    walk(dir).toMap
  }

  private def docText: Map[Long, String] = {
    import spark.implicits._
    graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
  }

  test("first dedup query builds once; a second session reuses the artifact") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      val before = Dedup.sigBuilds.get()
      d1.ensureSigIndex(spark, sf)
      assert(Dedup.sigBuilds.get() == before + 1, "first ensure must build")
      d1.ensureSigIndex(spark, sf)
      assert(Dedup.sigBuilds.get() == before + 1, "second ensure rebuilt")

      val dir = new java.io.File(d1.sigPath(sf))
      assert(new java.io.File(dir, "_SUCCESS").isFile)
      val stamp = mtimes(dir)

      // a SECOND session: fresh instance — must find the
      // marker and serve q32 off the stored bands without rebuilding
      val d2 = new Dedup(knobs)
      val q32 = d2.all.find(_.name == "q32_dedup_minhash_lsh").get
      val rows = q32.spark(spark, sf).collect()
      assert(rows.nonEmpty, "q32 over the stored bands returned nothing")
      assert(Dedup.sigBuilds.get() == before + 1,
        "second session rebuilt the signature lake instead of reusing it")
      assert(mtimes(dir) == stamp, "second session rewrote stored lake files")
    }
  }

  test("serving a corpus replay equals q32's pair set restricted to the batch") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      val texts = docText
      val batchIds = texts.keySet.filter(_ % 10 == 3)
      val batch = batchIds.toSeq.sorted.map(id => id -> texts(id))

      val served = d1.serveNearDups(spark, sf, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      // expected: q32's verified pairs, both orientations, probe ∈ batch
      val q32 = d1.all.find(_.name == "q32_dedup_minhash_lsh").get
      val pairs = q32.spark(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expected = (pairs.collect { case (a, b, j) if batchIds(a) => (a, b, j) } ++
        pairs.collect { case (a, b, j) if batchIds(b) => (b, a, j) }).toSet
      assert(served == expected,
        s"serve/q32 mismatch: served-only=${served diff expected}, " +
          s"missing=${expected diff served}")
      assert(served.nonEmpty, "replay batch found no near-dups at sf0.001")
    }
  }

  test("an added document is served as a match; retry is a content-key no-op") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      val texts = docText
      // a near-dup of a corpus doc: identical text under a fresh id
      val src = texts.keys.min
      val addedId = 900001L
      val batch = Seq(addedId -> texts(src))
      assert(d1.addDocs(spark, sf, batch), "first add must install")

      val adds = Dedup.sigAdds.get()
      assert(!d1.addDocs(spark, sf, batch), "identical batch re-add must no-op")
      assert(Dedup.sigAdds.get() == adds, "retry incremented the add counter")

      // a DIFFERENT batch claiming the same id fails loudly
      val boom = intercept[IllegalArgumentException] {
        d1.addDocs(spark, sf, Seq(addedId -> "completely different text here"))
      }
      assert(boom.getMessage.contains("already indexed"))

      // probing with the same text finds BOTH the source doc and the
      // added doc, each at jaccard 1.0
      val probe = d1.serveNearDups(spark, sf, Seq(777000L -> texts(src))).collect()
        .map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(probe.get(src).contains(1.0), s"probe missed the corpus source: $probe")
      assert(probe.get(addedId).contains(1.0), s"probe missed the added doc: $probe")

      // the simhash half serves the same added document: identical
      // text collides with both the source and the added copy
      val sh = d1.serveSimhashMatches(spark, sf, Seq(777000L -> texts(src)))
        .collect().map(_.getLong(1)).toSet
      assert(sh(src) && sh(addedId),
        s"simhash serve missed the source or added doc: $sh")
    }
  }

  test("the bucket ledger equals a live-bands recount across every DML step") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      val texts = docText
      val ids = texts.keys.toSeq.sorted
      def check(step: String): Unit = {
        val (ledger, recount) = d1.ledgerAndRecount(spark, sf)
        assert(ledger == recount,
          s"$step: ledger drifted from the recount (" +
            s"${(ledger.toSet diff recount.toSet).take(3)} vs " +
            s"${(recount.toSet diff ledger.toSet).take(3)})")
      }
      check("fresh build")
      // heavy buckets: five copies of one corpus text under new ids
      val dupes = (0 until 5).map(i => (910000L + i, texts(ids.head)))
      assert(d1.addDocs(spark, sf, dupes))
      check("after add (duplicate-heavy)")
      assert(d1.addDocs(spark, sf, Seq((920000L, texts(ids(1))))))
      check("after second add")
      // remove a CORPUS id (negative entries against the base ledger)
      // plus two added ids (against a segment's partial)
      assert(d1.removeDocs(spark, sf, Seq(ids.head, 910000L, 910001L)))
      check("after remove")
      assert(d1.compact(spark, sf))
      check("after compact")
      assert(d1.removeDocs(spark, sf, Seq(920000L)))
      check("after post-compact remove")
      assert(d1.rebase(spark, sf))
      check("after rebase")
      // and the serve face still agrees with itself end to end: the
      // removed corpus id is gone, a surviving dupe still matches
      val probe = d1.serveNearDups(spark, sf, Seq(777000L -> texts(ids.head)))
        .collect().map(_.getLong(1)).toSet
      assert(!probe(ids.head) && !probe(910000L) && probe(910002L),
        s"serve after DML chain disagrees: $probe")
    }
  }

  test("simhash serving a corpus replay equals q33's collision pairs for the batch") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      val texts = docText
      val batchIds = texts.keySet.filter(_ % 10 == 3)
      val batch = batchIds.toSeq.sorted.map(id => id -> texts(id))

      val served = d1.serveSimhashMatches(spark, sf, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      // expected: q33's stored signatures, collision pairs with the
      // probe side restricted to the batch
      val q33 = d1.all.find(_.name == "q33_dedup_simhash").get
      val sigs = q33.spark(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val bySig = sigs.groupBy(_._2)
      val expected = (for {
        (p, sg) <- sigs if batchIds(p)
        (m, _) <- bySig(sg) if m != p
      } yield (p, m, sg)).toSet
      assert(served == expected,
        s"simhash serve/q33 mismatch: served-only=${served diff expected}, " +
          s"missing=${expected diff served}")
    }
  }

  test("a removed document drops out of serving; removal is monotone") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      val texts = docText
      val src = texts.keys.min
      val addedId = 900002L
      assert(d1.addDocs(spark, sf, Seq(addedId -> texts(src))))
      assert(d1.removeDocs(spark, sf, Seq(addedId)), "first remove must install")
      assert(!d1.removeDocs(spark, sf, Seq(addedId)), "re-remove must no-op")

      val probe = d1.serveNearDups(spark, sf, Seq(777001L -> texts(src))).collect()
        .map(r => r.getLong(1)).toSet
      assert(probe(src), "corpus source vanished after an unrelated remove")
      assert(!probe(addedId), "tombstoned doc still served as a match")

      // retirement is permanent: a NEW batch claiming the retired id is
      // rejected (the identical original batch would be a content-key
      // retry no-op instead — also not a resurrection)
      val boom = intercept[IllegalArgumentException] {
        d1.addDocs(spark, sf, Seq(addedId -> "a different resurrection text"))
      }
      assert(boom.getMessage.contains("already indexed"))
      assert(!d1.addDocs(spark, sf, Seq(addedId -> texts(src))),
        "replaying the original add segment must stay a no-op")
    }
  }

  test("degenerate serving batches: empty, null text, zero-shingle text") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      assert(d1.serveNearDups(spark, sf, Seq.empty).collect().isEmpty)
      assert(d1.serveNearDups(spark, sf, Seq(1L -> null)).collect().isEmpty)
      // one word → no 3-gram → no bands → no matches, no crash
      assert(d1.serveNearDups(spark, sf, Seq(2L -> "word")).collect().isEmpty)
      // and zero-content batches install nothing
      assert(!d1.addDocs(spark, sf, Seq(3L -> null)))
    }
  }

  test("the id guard covers zero-shingle and zero-token stored documents") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      // "word" has a token but no shingle (no bands/no dedup presence);
      // "" has no token at all (no sig row either) — both still own a
      // docs row, which is the guard's liveness basis
      assert(d1.addDocs(spark, sf, Seq(930001L -> "word", 930002L -> "")),
        "short-text batch must install")
      // a DIFFERENT batch re-claiming either id must fail loudly, not
      // silently duplicate the id in the lake
      val b1 = intercept[IllegalArgumentException] {
        d1.addDocs(spark, sf, Seq(930001L -> "entirely different replacement text"))
      }
      assert(b1.getMessage.contains("already indexed"))
      val b2 = intercept[IllegalArgumentException] {
        d1.addDocs(spark, sf, Seq(930002L -> "resurrecting the empty doc id"))
      }
      assert(b2.getMessage.contains("already indexed"))
      // the identical batch replay stays a quiet content-key no-op
      assert(!d1.addDocs(spark, sf, Seq(930001L -> "word", 930002L -> "")))
    }
  }

  test("signature-shaping knobs key distinct artifacts; serve-time knobs do not") {
    withTempRoot {
      val d1 = new Dedup(knobs)
      assert(new Dedup(knobs.copy(minhashBands = 4)).sigPath(sf)
        != d1.sigPath(sf), "minhashBands must shape the artifact key")
      assert(new Dedup(knobs.copy(minhashRows = 4)).sigPath(sf)
        != d1.sigPath(sf), "minhashRows must shape the artifact key")
      assert(new Dedup(knobs.copy(minhashBucketCap = 7)).sigPath(sf)
        == d1.sigPath(sf), "bucket cap is candidate-generation-time only")
      assert(new Dedup(knobs.copy(dfCap = 7)).sigPath(sf)
        == d1.sigPath(sf), "dfCap does not touch the signature derivation")
    }
  }

  test("regenerated corpus data re-keys the artifact (no stale bands served)") {
    val d1 = new Dedup(knobs)
    withTempDir("graft-dedup-fp") { dir =>
      val table = new java.io.File(dir, "documents.parquet")
      table.mkdirs()
      val part = new java.io.File(table, "part-0.parquet")
      java.nio.file.Files.writeString(part.toPath, "v1-bytes")
      val p1 = d1.sigPath(dir)
      assert(d1.sigPath(dir) == p1)
      java.nio.file.Files.writeString(part.toPath, "v2-bytes-longer")
      part.setLastModified(part.lastModified() + 5000)
      assert(d1.sigPath(dir) != p1,
        "data change did not re-key the stored bands")
    }
  }

  test("streaming document ingest installs one idempotent segment per batch") {
    withTempRoot {
      withTempDir("graft-dedup") { tmp =>
        val d1 = new Dedup(knobs)
        d1.ensureSigIndex(spark, sf)
        val texts = docText
        val src = texts.keys.min

        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val mem = MemoryStream[(Long, String)]
        val ckpt = s"$tmp/ckpt"
        val q = d1.ingestStream(sf,
          mem.toDF().toDF("doc_id", "text"), ckpt)
        try {
          mem.addData(910001L -> texts(src))
          q.processAllAvailable()
          val probe = d1.serveNearDups(spark, sf, Seq(777002L -> texts(src)))
            .collect().map(_.getLong(1)).toSet
          assert(probe(910001L), "streamed doc not served after its batch committed")
        } finally q.stop()
      }
    }
  }

  test("the tombstone ledger broadcasts its id probe only for batches of at most 1M ids") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, Range, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    // the analyzed plan of each tombstone segment's `band_stats` write
    val ledgers = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (qe.analyzed.exists {
          case w: InsertIntoHadoopFsRelationCommand =>
            w.outputPath.getName == "band_stats" &&
              w.outputPath.getParent.getName.startsWith(".del-")
          case _ => false
        }) ledgers.add(qe.analyzed)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    /** Remove `ids` and report whether its ledger write broadcast the
      * batch (a broadcast hint over the batch's `range` source; a
      * tombstone anti-join's hint reads parquet and does not count).
      */
    def removeBroadcasts(dd: Dedup, ids: org.apache.spark.sql.DataFrame): Boolean = {
      ledgers.clear()
      assert(dd.removeDocs(spark, sf, ids))
      val deadline = System.currentTimeMillis() + 60000
      while (ledgers.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100) // listener bus is async
      assert(ledgers.size == 1)
      ledgers.peek().exists {
        case h: ResolvedHint =>
          h.hints.strategy.contains(BROADCAST) && h.child.exists(_.isInstanceOf[Range])
        case _ => false
      }
    }
    withTempRoot {
      val dd = new Dedup(knobs)
      dd.ensureSigIndex(spark, sf)
      spark.listenerManager.register(listener)
      try {
        assert(removeBroadcasts(dd, spark.range(0L, 10L).toDF("doc_id")))
        assert(!removeBroadcasts(dd, spark.range(10L, 1000011L).toDF("doc_id")),
          "a batch of more than 1M ids must not force a broadcast")
      } finally spark.listenerManager.unregister(listener)
    }
  }
}
