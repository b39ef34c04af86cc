package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.types.{BinaryType, LongType}

/** The stored-media fixture contract: q60-q64's decode tier reads a real
  * parquet BINARY column, generated once and byte-stable across calls.
  */
class MediaLakeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  import Multimodal.{MediaLake, MediaFixtures}

  test("media table: one BINARY blob per document, byte-identical to the builder") {
    val docs = graft.Tables.t(spark, sf, "documents").count()
    val m = MediaLake.table(spark, sf)
    val sch = m.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(sch("doc_id") == LongType && sch("blob") == BinaryType)
    assert(m.count() == docs)
    val sample = m.filter("doc_id < 20").collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("blob"),
        MediaFixtures.blobFor(id)), s"stored blob for doc $id drifted")
    }
  }

  test("a crashed writer's leftovers (dir without _SUCCESS) are healed, not wedged") {
    // sf0.01's fixture: planting junk at sf0.001's would race the
    // other suites that read it
    val sf2 = "/root/testdata/sf0.01"
    val target = new java.io.File(MediaLake.path(sf2))
    def deleteTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete()
    }
    deleteTree(target)
    target.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(target, "part-junk.parquet").toPath, "not parquet")
    // no _SUCCESS marker: ensure() must clear the carcass and regenerate
    val m = MediaLake.table(spark, sf2)
    assert(new java.io.File(target, "_SUCCESS").isFile)
    assert(m.count() == graft.Tables.t(spark, sf2, "documents").count())
  }

  test("generation is idempotent: second ensure() reuses the stored copy") {
    MediaLake.ensure(spark, sf)
    val dir = new java.io.File(MediaLake.path(sf))
    val before = dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    MediaLake.ensure(spark, sf)
    val after = dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "ensure() rewrote an existing fixture")
  }

  test("q61's frame expansion: opaque blobs (n_frames = 0) emit zero frames, not a crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, expr}
    val out = Seq((1L, 0L), (2L, 3L)).toDF("doc_id", "n_frames")
      .select($"doc_id", explode(expr(Multimodal.frameIdxExpr)).as("frame_idx"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == Set((2L, 0), (2L, 2)),
      "opaque blob leaked frames or the sequence bound threw")
  }

  test("q60/q64 read the stored parquet, not a mid-query synthesizer") {
    for (q <- Seq("q60_multimodal_decode", "q64_multimodal_real_decode")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      // the analyzed plan's only leaf must be the parquet relation over
      // the fixture path (AQE wraps the physical plan, so inspect the
      // logical tree)
      val plan = df.queryExecution.analyzed.toString
      assert(plan.toLowerCase.contains("parquet"),
        s"$q plan has no parquet relation:\n$plan")
      val key = new java.io.File(MediaLake.path(sf)).getName
      assert(df.inputFiles.exists(_.contains(key)),
        s"$q does not scan the media fixture path: ${df.inputFiles.toSeq}")
    }
  }
}
