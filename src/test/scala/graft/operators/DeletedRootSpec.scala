package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.sql.functions._

/** A store root deleted under a live session (a temp-dir cleaner, the
  * default root being under `java.io.tmpdir`) is rebuilt by the next
  * serve on the SAME instance: the install path re-checks the on-disk
  * marker on every call instead of trusting what it saw before.
  */
class DeletedRootSpec extends SparkTestBase {

  test("a deleted SP model root is rebuilt by the next serve on the same instance") {
    withTempRoot {
      withTempDir("graft-sp-corpus") { dir =>
        import spark.implicits._
        Seq((0L, "alpha beta alpha"), (1L, "beta gamma"))
          .toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("web"))
          .withColumn("n_chars", length($"text").cast("long"))
          .write.parquet(s"$dir/documents.parquet")
        val sp = new Sp(Tuning())
        val probe = Seq((1L, "alpha gamma")).toDF("id", "text")
        val before = Sp.builds.get()
        val first = sp.serveSpTokenize(spark, dir, probe).collect().toSeq
        assert(Sp.builds.get() == before + 1)
        val root = new java.io.File(sp.spPath(dir))
        ArtifactLake.deleteTree(root)
        assert(!root.exists())
        val again = sp.serveSpTokenize(spark, dir, probe).collect().toSeq
        assert(Sp.builds.get() == before + 2, "the deleted root was not rebuilt")
        assert(new java.io.File(root, "_SUCCESS").isFile)
        assert(again.map(_.toString) == first.map(_.toString))
      }
    }
  }
}
