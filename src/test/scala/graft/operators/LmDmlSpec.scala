package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** Delta-segment DML for the corpus LM store ([[TextOps.addLmDocs]] /
  * `compactLm` / `vacuumLm`): serving after DML must equal a
  * from-scratch LM over corpus ∪ batches (counts add across
  * id-disjoint layers; the vocabulary is recomposed, never summed),
  * replays no-op off the content key even after vacuum, id conflicts
  * fail loudly, zero-token batches install docs-only segments, and
  * folds trigger past `storeMaxSegments`.
  */
class LmDmlSpec extends SparkTestBase {

  private def writeCorpus(root: String, docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(root), "corpus").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private val base = Seq(
    (0L, "alpha beta gamma alpha"),
    (1L, "beta delta"))
  private val batch1 = Seq((10L, "alpha epsilon"), (11L, "zeta"))
  private val batch2 = Seq((12L, "beta beta eta"))

  private val probes = Seq(
    (900L, "alpha"), (901L, "beta epsilon"), (902L, "zz unseen eta"),
    (903L, ""))

  private def serveMap(ops: TextOps, dir: String, order: Int = 1)
      : Map[Long, (Long, Option[Double])] = {
    import spark.implicits._
    ops.serveSurprisal(spark, dir, probes.toDF("id", "text"), order)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
  }

  test("serve after DML ≡ from-scratch over corpus ∪ batches; replay no-ops; conflicts fail") {
    withTempRoot {
      withTempDir("graft-lmdml") { tmp =>
        import spark.implicits._
        val ops = new TextOps(Tuning())
        val dir = writeCorpus(tmp, base)

        val adds0 = TextOps.lmAdds.get()
        assert(ops.addLmDocs(spark, dir, batch1.toDF("doc_id", "text")))
        assert(ops.addLmDocs(spark, dir, batch2.toDF("doc_id", "text")))
        assert(TextOps.lmAdds.get() == adds0 + 2)
        // content-keyed replay no-ops (row order must not matter)
        assert(!ops.addLmDocs(spark, dir,
          batch1.reverse.toDF("doc_id", "text")))
        assert(TextOps.lmAdds.get() == adds0 + 2)
        // a DIFFERENT batch claiming a held id fails loudly
        val ex = intercept[IllegalArgumentException](
          ops.addLmDocs(spark, dir, Seq((10L, "other text"))
            .toDF("doc_id", "text")))
        assert(ex.getMessage.contains("10"))

        // DML'd store ≡ a from-scratch base over corpus ∪ batches —
        // at BOTH orders: the bigram layer recomposes additively like
        // the unigram counts
        val scratch = writeCorpus(tmp, base ++ batch1 ++ batch2)
        assert(serveMap(ops, dir) == serveMap(new TextOps(Tuning()), scratch))
        assert(serveMap(ops, dir, order = 2) ==
          serveMap(new TextOps(Tuning()), scratch, order = 2))
        // …and at order 3: the trigram layer recomposes additively too
        assert(serveMap(ops, dir, order = 3) ==
          serveMap(new TextOps(Tuning()), scratch, order = 3))
        // …and at order 5: the 4/5-gram layers recompose additively too
        assert(serveMap(ops, dir, order = 5) ==
          serveMap(new TextOps(Tuning()), scratch, order = 5))
      }
    }
  }

  test("zero-token batches install docs-only segments that still guard their ids") {
    withTempRoot {
      withTempDir("graft-lmdml") { tmp =>
        import spark.implicits._
        val ops = new TextOps(Tuning())
        val dir = writeCorpus(tmp, base)
        assert(ops.addLmDocs(spark, dir,
          Seq((20L, ""), (21L, null.asInstanceOf[String]))
            .toDF("doc_id", "text")))
        // serving still works and matches scratch (empty texts add no
        // tokens — the LM is unchanged, only the id set grew)
        val scratch = writeCorpus(tmp, base)
        assert(serveMap(ops, dir) == serveMap(new TextOps(Tuning()), scratch))
        // …and the ids are held
        intercept[IllegalArgumentException](
          ops.addLmDocs(spark, dir, Seq((21L, "claimed"))
            .toDF("doc_id", "text")))
      }
    }
  }

  test("folds trigger past storeMaxSegments; vacuum reclaims; vacuumed replays no-op") {
    withTempRoot {
      withTempDir("graft-lmdml") { tmp =>
        import spark.implicits._
        val ops = new TextOps(Tuning(storeMaxSegments = 1))
        val dir = writeCorpus(tmp, base)
        val folds0 = TextOps.lmCompactions.get()
        assert(ops.addLmDocs(spark, dir, batch1.toDF("doc_id", "text")))
        assert(ops.addLmDocs(spark, dir, batch2.toDF("doc_id", "text")))
        assert(TextOps.lmCompactions.get() > folds0,
          "the second segment must trip the auto-fold")
        assert(ops.vacuumLm(spark, dir) > 0, "consumed segments reclaim")
        // the vacuumed batch's replay still no-ops (consumed.txt)
        val adds0 = TextOps.lmAdds.get()
        assert(!ops.addLmDocs(spark, dir, batch1.toDF("doc_id", "text")))
        assert(TextOps.lmAdds.get() == adds0)
        // and serving over the folded generation matches scratch at
        // every order (the fold re-sums bigram AND trigram counts)
        val scratch = writeCorpus(tmp, base ++ batch1 ++ batch2)
        assert(serveMap(ops, dir) == serveMap(new TextOps(Tuning()), scratch))
        assert(serveMap(ops, dir, order = 2) ==
          serveMap(new TextOps(Tuning()), scratch, order = 2))
        assert(serveMap(ops, dir, order = 3) ==
          serveMap(new TextOps(Tuning()), scratch, order = 3))
        assert(serveMap(ops, dir, order = 5) ==
          serveMap(new TextOps(Tuning()), scratch, order = 5))
      }
    }
  }
}
