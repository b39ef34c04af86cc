package graft.streaming

import graft.config.DeviceConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Backfill: replay raw `--echo` capture files through the SAME parse +
  * pack stages as the live socket pipeline.
  *
  * Reference deployments accumulate raw dumps (`readport --echo > f`,
  * readport.py:671-693; [[Runner.echo]] here) while reverse-engineering
  * a device; once the config exists, this turns that history into the
  * same packed columnar output the live pipeline writes — the migration
  * path for data that predates the switch.
  *
  * Semantics:
  *  - frames are newline-delimited raw bytes, decoded ISO-8859-1
  *    byte-exactly like the socket source;
  *  - a trailing partial frame (capture cut mid-message) is dropped,
  *    like a torn socket read at disconnect;
  *  - raw captures carry no timestamps, so each frame gets a synthetic
  *    monotone time — the file's modification instant plus the frame
  *    index in microseconds: ordering within a capture (what the
  *    count-window pack needs) is exact, absolute times are as good as
  *    the file metadata;
  *  - the first frame of each file is `fresh`, mirroring a fresh
  *    connection (a capture usually starts mid-message; F1 demotes it).
  *
  * Scale shape: one partition per capture file (binaryFiles), framing
  * row-local, then the identical parse + pack plan as [[IngestPipeline]]
  * in batch execution. Each file is materialized whole in its task
  * (captures are MB-scale by nature — one device's debug window); split
  * a pathological multi-GB dump before replaying. Returns the packed
  * DataFrame, ready to append wherever the live sink points.
  */
object Backfill {

  /** Split a capture's bytes into complete newline-terminated frames. */
  private[streaming] def frames(bytes: Array[Byte]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == '\n') {
        out += new String(bytes, start, i - start,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        start = i + 1
      }
      i += 1
    }
    out.result()  // bytes past the last \n are a torn frame — dropped
  }

  /** The raw (value, time, fresh) frame table for a capture path/glob —
    * the batch twin of [[IngestPipeline.rawStream]]'s schema.
    */
  def rawCapture(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // modification times read once, driver-side; keyed by scheme-less
    // path so the map matches binaryFiles' URI keys on any filesystem
    val hc = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hc)
    val mods: Map[String, Long] =
      Option(fs.globStatus(p)).getOrElse(Array.empty).iterator.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).iterator.filter(_.isFile)
            .map(f => f.getPath.toUri.getPath -> f.getModificationTime * 1000L)
        else Iterator.single(st.getPath.toUri.getPath -> st.getModificationTime * 1000L)
      }.toMap
    val bMods = spark.sparkContext.broadcast(mods)
    spark.sparkContext.binaryFiles(path)
      .flatMap { case (file, pds) =>
        val key = new org.apache.hadoop.fs.Path(file).toUri.getPath
        val base = bMods.value.getOrElse(key, 0L)
        frames(pds.toArray()).iterator.zipWithIndex.map { case (msg, i) =>
          (msg, base + i, i == 0)
        }
      }
      .toDF("value", "tmicros", "fresh")
      .select($"value", timestamp_micros($"tmicros").as("time"), $"fresh")
  }

  /** Capture files → parsed, packed rows (batch). Output schema matches
    * the live pipeline's sink input: variables + time + key + pack
    * columns. Rows are time-sorted before packing so pack order follows
    * capture order (see [[CountWindow.packByCount]]'s ordering note).
    */
  def fromEchoCapture(spark: SparkSession, path: String,
      cfg: DeviceConfig): DataFrame =
    IngestPipeline.packStage(
      IngestPipeline.parseStage(rawCapture(spark, path), cfg), cfg,
      _.orderBy("time"))._1
}
