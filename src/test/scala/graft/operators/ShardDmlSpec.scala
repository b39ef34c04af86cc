package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Shard-lake DML ([[Bpe.addShardDocs]]): new documents append to an
  * installed training-shard lake as content-keyed delta segments,
  * encoded with the FROZEN tokenizer — replays no-op, id conflicts
  * fail loudly, the segment bytes equal a from-scratch encode of the
  * same docs through the same artifact ([[Bpe.serveTokenize]]), the
  * registered (oracle-pinned) queries stay base-only bit-unchanged,
  * and [[Bpe.decodeTokens]] reads the sequences back.
  */
class ShardDmlSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val knobs = Tuning(bpeMerges = 8)

  private val batch = Seq(
    (910001L, "the quick brown fox jumps again and again"),
    (910002L, "an unseen word §zzyzzx among plain words"),
    (910003L, ""))

  test("a batch lands as one segment; replay no-ops; sequences ≡ frozen encode; decode round-trips") {
    withTempRoot {
      import spark.implicits._
      val bpe = new Bpe(knobs)
      bpe.ensureShards(spark, sf)
      val q87 = new Bpe(knobs).all.find(_.name == "q87_pack_shards").get
      val before = q87.spark(spark, sf).collect().toSeq

      val adds0 = Bpe.shardAdds.get()
      val df = batch.toDF("doc_id", "text")
      assert(bpe.addShardDocs(spark, sf, df), "first install must build")
      assert(Bpe.shardAdds.get() == adds0 + 1)
      // content-keyed replay is a no-op (same rows, different order)
      assert(!bpe.addShardDocs(spark, sf,
        batch.reverse.toDF("doc_id", "text")))
      assert(Bpe.shardAdds.get() == adds0 + 1)

      // the lake now serves base ∪ segment…
      val seqs = bpe.shardDocSeqs(spark, sf)
        .filter($"doc_id" >= 910001L)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[scala.collection.Seq[Int]]("token_ids")))
        .toMap
      assert(seqs.keySet == Set(910001L, 910002L, 910003L))
      // …with bytes ≡ a from-scratch frozen encode of the same docs
      val fresh = bpe.serveTokenize(spark, sf,
          batch.toDF("id", "text"))
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[scala.collection.Seq[Int]]("token_ids")))
        .toMap
      assert(seqs == fresh)
      // the unseen word carries UNK ids; the empty doc an empty array
      assert(seqs(910002L)._2.contains(-1))
      assert(seqs(910003L)._2.isEmpty)

      // registered (oracle-pinned) queries read base only — DML must
      // not move a byte
      assert(q87.spark(spark, sf).collect().toSeq == before)

      // decode reads the sequences back: known ids to their tokens
      // (concatenating a doc's decoded tokens re-spells its words),
      // UNK to NULL in place
      val dec = bpe.decodeTokens(spark, sf,
          bpe.shardDocSeqs(spark, sf).filter($"doc_id" >= 910001L))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[scala.collection.Seq[String]]("tokens")).toMap
      Seq(910001L, 910002L).foreach { id =>
        dec(id).zip(seqs(id)._2).foreach { case (tok, tid) =>
          assert((tok == null) == (tid == -1),
            s"doc $id: token '$tok' vs id $tid") }
      }
      assert(dec(910002L).contains(null), "§ is out-of-corpus")
      assert(dec(910003L).isEmpty)
      // a BASE doc round-trips fully: every id is in the stored
      // vocabulary by construction, and concatenating its decoded
      // subwords re-spells its lowercased words
      val dec0 = bpe.decodeTokens(spark, sf,
          bpe.shardDocSeqs(spark, sf).filter($"doc_id" === 0L))
        .collect().head.getAs[scala.collection.Seq[String]]("tokens")
      assert(dec0.nonEmpty && dec0.forall(_ != null))
      val words0 = graft.Tables.t(spark, sf, "documents")
        .filter($"doc_id" === 0L).select($"text").as[String].head()
        .toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).mkString
      assert(dec0.mkString == words0)
    }
  }

  test("a different batch claiming taken ids fails loudly") {
    withTempRoot {
      import spark.implicits._
      val bpe = new Bpe(knobs)
      bpe.ensureShards(spark, sf)
      assert(bpe.addShardDocs(spark, sf, batch.toDF("doc_id", "text")))
      // same id, different text — not a replay, a conflict
      val ex = intercept[IllegalArgumentException] {
        bpe.addShardDocs(spark, sf,
          Seq((910001L, "different text entirely")).toDF("doc_id", "text"))
      }
      assert(ex.getMessage.contains("already in the lake"))
      // …and so is a batch colliding with a BASE doc_id
      val ex2 = intercept[IllegalArgumentException] {
        bpe.addShardDocs(spark, sf,
          Seq((0L, "shadows a corpus doc")).toDF("doc_id", "text"))
      }
      assert(ex2.getMessage.contains("already in the lake"))
      // duplicate ids WITHIN a batch are rejected before any install
      intercept[IllegalArgumentException] {
        bpe.addShardDocs(spark, sf,
          Seq((920001L, "a"), (920001L, "b")).toDF("doc_id", "text"))
      }
      // an empty batch installs nothing
      assert(!bpe.addShardDocs(spark, sf,
        Seq.empty[(Long, String)].toDF("doc_id", "text")))
    }
  }

  test("segments auto-fold into a generation; replay and vacuum honor consumed names") {
    withTempRoot {
      import spark.implicits._
      // storeMaxSegments=2: the THIRD install exceeds the bound and
      // auto-folds everything into generation 1
      val bpe = new Bpe(Tuning(bpeMerges = 8, storeMaxSegments = 2))
      bpe.ensureShards(spark, sf)
      val b1 = Seq((940001L, "first appended document")).toDF("doc_id", "text")
      val b2 = Seq((940002L, "second appended document")).toDF("doc_id", "text")
      val b3 = Seq((940003L, "third appended document")).toDF("doc_id", "text")
      val comps0 = Bpe.shardCompactions.get()
      assert(bpe.addShardDocs(spark, sf, b1))
      assert(bpe.addShardDocs(spark, sf, b2))
      assert(Bpe.shardCompactions.get() == comps0, "under the bound: no fold")
      val before = bpe.shardDocSeqs(spark, sf)
        .filter($"doc_id" >= 940001L).orderBy($"doc_id")
        .collect().map(_.toSeq).toSeq
      assert(bpe.addShardDocs(spark, sf, b3))
      assert(Bpe.shardCompactions.get() == comps0 + 1,
        "the third install exceeds storeMaxSegments=2 and folds")
      // the folded view serves the identical rows (plus batch 3)
      val after = bpe.shardDocSeqs(spark, sf)
        .filter($"doc_id" >= 940001L && $"doc_id" <= 940002L)
        .orderBy($"doc_id").collect().map(_.toSeq).toSeq
      assert(after == before)
      assert(bpe.shardDocSeqs(spark, sf)
        .filter($"doc_id" >= 940001L).count() == 3L)
      // a replay of FOLDED content no-ops (the consumed-name check)
      assert(!bpe.addShardDocs(spark, sf, b1))
      // explicit compact with nothing unconsumed is a no-op
      assert(!bpe.compactShards(spark, sf))
      // vacuum reclaims the three folded segment dirs…
      assert(bpe.vacuumShards(spark, sf) == 3)
      // …and the vacuumed batch's replay STILL no-ops, while the
      // served view is byte-unchanged
      assert(!bpe.addShardDocs(spark, sf, b2))
      assert(bpe.shardDocSeqs(spark, sf)
        .filter($"doc_id" >= 940001L).count() == 3L)
      // a fresh batch lands as a new unconsumed segment on top
      assert(bpe.addShardDocs(spark, sf,
        Seq((940004L, "fourth appended document")).toDF("doc_id", "text")))
      assert(bpe.shardDocSeqs(spark, sf)
        .filter($"doc_id" >= 940001L).count() == 4L)
      // drive a SECOND fold: two more batches exceed the bound again
      assert(bpe.addShardDocs(spark, sf,
        Seq((940005L, "fifth appended document")).toDF("doc_id", "text")))
      assert(bpe.addShardDocs(spark, sf,
        Seq((940006L, "sixth appended document")).toDF("doc_id", "text")))
      assert(Bpe.shardCompactions.get() == comps0 + 2)
      // vacuum reclaims the consumed segments AND the superseded
      // generation (its rows live on in gen 2's cumulative fold) —
      // only the newest generation survives
      assert(bpe.vacuumShards(spark, sf) == 4)
      val gens = new java.io.File(s"${bpe.shardsPath(sf)}/gens").listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).toSeq
      assert(gens.length == 1 && gens.head.startsWith("gen-00002"),
        s"expected only gen-00002, got $gens")
      // the served view is intact and folded replays still no-op
      assert(bpe.shardDocSeqs(spark, sf)
        .filter($"doc_id" >= 940001L).count() == 6L)
      assert(!bpe.addShardDocs(spark, sf, b1))
    }
  }

  test("streamed micro-batches land as segments through ingestShardStream") {
    withTempRoot {
      withTempDir("graft-sharddml") { tmp =>
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val bpe = new Bpe(knobs)
        bpe.ensureShards(spark, sf)
        val adds0 = Bpe.shardAdds.get()
        val mem = MemoryStream[(Long, String)]
        val ckpt = s"$tmp/ckpt"
        val q = bpe.ingestShardStream(sf,
          mem.toDF().toDF("doc_id", "text"), ckpt)
        try {
          mem.addData(930001L -> "first streamed document body")
          q.processAllAvailable()
          mem.addData(930002L -> "second streamed document body",
            930003L -> "third streamed document body")
          q.processAllAvailable()
          assert(Bpe.shardAdds.get() == adds0 + 2,
            "one segment per non-empty micro-batch")
          val got = bpe.shardDocSeqs(spark, sf)
            .filter($"doc_id" >= 930001L).count()
          assert(got == 3L)
        } finally q.stop()
      }
    }
  }
}
