package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase
import graft.config.DeviceConfig

/** Backfill replays `--echo` captures through the live parse + pack
  * stages: framing (incl. torn trailing frame), ISO-8859-1 byte
  * fidelity, F1 malformed-frame drop, per-file fresh flag, and the
  * same pack emission as the socket path.
  */
class BackfillSpec extends SparkTestBase {

  private val cfg = DeviceConfig.load("""
    |[device]
    |station = MSU
    |name = B
    |host = localhost
    |port = 1
    |[parser]
    |regex = ^(?P<level>\S+) RH= *(?P<rh>\S+) %RH T= *(?P<temp>\S+) .C\s*$
    |group_by = level:int
    |pack_length = 2
    |destination = ./ignored
    |""".stripMargin)

  test("frames: newline split, torn trailing frame dropped, bytes exact") {
    val bytes = ("a\nb\n".getBytes("ISO-8859-1") ++
      Array(0xB0.toByte, '\n'.toByte) ++ "torn".getBytes)
    val fs = Backfill.frames(bytes)
    assert(fs == Vector("a", "b", "°"))  // 0xB0 survives byte-exactly
    assert(Backfill.frames(Array.empty[Byte]).isEmpty)
  }

  test("capture files replay into the same packs as the live pipeline") {
    withTempDir("graft-capture-") { dir =>
      // file 1: 3 good frames + 1 junk (F1 drop) + a torn trailing frame
      Files.write(java.nio.file.Paths.get(s"$dir/a.bin"),
        ("01 RH= 1.0 %RH T= 10.0 'C \r\n" +
          "not a sensor line\n" +
          "01 RH= 2.0 %RH T= 20.0 'C \r\n" +
          "01 RH= 3.0 %RH T= 30.0 'C \r\n" +
          "01 RH= 9.9 %").getBytes("ISO-8859-1"))
      // file 2: 2 good frames for another group
      Files.write(java.nio.file.Paths.get(s"$dir/b.bin"),
        ("02 RH= 4.0 %RH T= 40.0 'C \r\n" +
          "02 RH= 5.0 %RH T= 50.0 'C \r\n").getBytes("ISO-8859-1"))

      val packed = Backfill.fromEchoCapture(spark, s"$dir/*.bin", cfg)
      val rows = packed.collect()
      // group 01: 3 valid frames -> one pack of 2, 1 buffered (dropped in
      // batch); group 02: exactly one pack. Junk + torn frames never land.
      assert(rows.length == 4)
      val byLevel = rows.groupBy(_.getAs[Long]("level"))
      assert(byLevel(1L).length == 2 && byLevel(2L).length == 2)
      // pack order follows capture order (synthetic monotone time)
      val g1 = byLevel(1L).sortBy(_.getAs[Int]("pack_pos"))
      assert(g1.map(_.getAs[Double]("rh")).toSeq == Seq(1.0, 2.0))
      assert(byLevel(2L).map(_.getAs[Double]("rh")).toSet == Set(4.0, 5.0))
      // schema matches the live sink input
      assert(packed.columns.toSet ==
        Set("level", "rh", "temp", "time", "pack_seq", "pack_pos"))
    }
  }
}
