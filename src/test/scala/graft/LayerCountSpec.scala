package graft

import java.io.File
import java.nio.file.Files

/** [[Tables.layerCount]]'s degrade contract: slower is allowed, wrong
  * is not. 0 is reported only for genuinely-absent or mid-install
  * (empty / staging-only) layers; a dir with VISIBLE data that cannot
  * be read propagates its error even without a `_SUCCESS` marker —
  * non-Spark writers never produce one, and a silent 0 there would be
  * a permanent undercount on a stats surface.
  */
class LayerCountSpec extends SparkTestBase {

  private def tmp(): File = new File(suiteTempDir("graft-layercount"))

  test("absent path reports 0") {
    val d = tmp()
    assert(Tables.layerCount(spark, s"${d.getAbsolutePath}/nope") == 0L)
  }

  test("empty dir (writer not started) reports 0") {
    val d = new File(tmp(), "layer")
    assert(d.mkdirs())
    assert(Tables.layerCount(spark, d.getAbsolutePath) == 0L)
  }

  test("staging-only dir (writer mid-flight) reports 0") {
    val d = new File(tmp(), "layer")
    val stage = new File(d, "_temporary/0")
    assert(stage.mkdirs())
    Files.write(new File(stage, "part-000").toPath, Array[Byte](1, 2, 3))
    assert(Tables.layerCount(spark, d.getAbsolutePath) == 0L)
  }

  test("visible unreadable data propagates even without _SUCCESS") {
    val d = new File(tmp(), "layer")
    assert(d.mkdirs())
    // a non-parquet byte blob with a visible name: a non-Spark writer's
    // output that is corrupt — NOT a mid-install transient
    Files.write(new File(d, "data.bin").toPath,
      "not parquet at all".getBytes("UTF-8"))
    intercept[Exception] {
      Tables.layerCount(spark, d.getAbsolutePath)
    }
  }

  test("markerless foreign parquet counts via the scan fallback") {
    import spark.implicits._
    val src = new File(tmp(), "src")
    Seq(1L, 2L, 3L).toDF("x").coalesce(1)
      .write.parquet(src.getAbsolutePath)
    // simulate a non-Spark writer: real parquet bytes, no marker, a
    // name the footer walk doesn't recognize (<name>.parquet filter)
    val d = new File(tmp(), "layer")
    assert(d.mkdirs())
    val part = Option(src.listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new File(d, "chunk-0.pq").toPath)
    assert(Tables.layerCount(spark, d.getAbsolutePath) == 3L)
  }
}
