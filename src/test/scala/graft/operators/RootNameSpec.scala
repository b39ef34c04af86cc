package graft.operators

import graft.SparkTestBase
import graft.config.Tuning

/** Pins every build-once store's root name, byte for byte, under the
  * default knobs and under `Tuning.production` (the profile that turns
  * on the `:nfc`/`:esc`/`:ptk` key parts). A store already installed
  * on disk is reused only while its name is unchanged, so a failure
  * here means an upgrade would silently rebuild every store. Fix the
  * code; do not re-pin.
  *
  * The source dir is never created: an absent table's fingerprint is
  * a fixed value, so every name is a literal.
  */
class RootNameSpec extends SparkTestBase {
  private val idx = "/graft-pin/index"
  private val sf = "/graft-pin/sf"

  private def withProp[A](k: String, v: String)(body: => A): A = {
    val prev = sys.props.get(k)
    sys.props(k) = v
    try body
    finally prev match {
      case Some(p) => sys.props(k) = p
      case None => sys.props -= k
    }
  }

  private def names(t: Tuning): Map[String, String] =
    withProp("graft.index.dir", idx) {
      val search = new Search(t)
      val bpe = new Bpe(t)
      Map(
        "bm25Path" -> search.bm25Path(sf),
        "runsPath" -> search.runsPath(sf),
        "indexPath" -> new Similarity(t).indexPath(sf),
        "lmPath" -> new TextOps(t).lmPath(sf),
        "sigPath" -> new Dedup(t).sigPath(sf),
        "spPath" -> new Sp(t).spPath(sf),
        "shardsPath" -> bpe.shardsPath(sf),
        "curatedShardsPath" -> bpe.curatedShardsPath(sf))
    }

  private def check(got: Map[String, String], want: Map[String, String]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(got(k) == v, s"$k drifted") }
  }

  test("root names under the default knobs") {
    check(names(Tuning()), Map(
      "bm25Path" -> s"$idx/bm25-23ba5ce89454-6d4b0bff-v3",
      "runsPath" -> s"$idx/runs-c17d9e5513a0-6d4b0bff-v2",
      "indexPath" -> s"$idx/index-8dff9729ec36-56352610-v2",
      "lmPath" -> s"$idx/lm-20bb29038948-6d4b0bff-v1",
      "sigPath" -> s"$idx/dedup-2b54b533455b-6d4b0bff-v3",
      "spPath" -> s"$idx/sp-750df8a48857-6d4b0bff-v1",
      "shardsPath" -> s"$idx/shards-66cc077e6bb6-6d4b0bff-v3",
      "curatedShardsPath" -> s"$idx/shards-0674792e56f4-6d4b0bff-v3"))
  }

  test("root names under Tuning.production") {
    check(names(Tuning.production), Map(
      "bm25Path" -> s"$idx/bm25-694ec89185cd-6d4b0bff-v3",
      "runsPath" -> s"$idx/runs-16e60edbe5f8-6d4b0bff-v2",
      "indexPath" -> s"$idx/index-8dff9729ec36-56352610-v2",
      "lmPath" -> s"$idx/lm-8a11f467980e-6d4b0bff-v1",
      "sigPath" -> s"$idx/dedup-b981d408f55b-6d4b0bff-v3",
      "spPath" -> s"$idx/sp-5f6aec56de8f-6d4b0bff-v1",
      "shardsPath" -> s"$idx/shards-c7cc18e09485-6d4b0bff-v3",
      "curatedShardsPath" -> s"$idx/shards-dee18c54d86e-6d4b0bff-v3"))
  }

  test("media fixture and dHash lake root names") {
    assert(withProp("graft.media.dir", "/graft-pin/media") {
      Multimodal.MediaLake.path(sf)
    } == "/graft-pin/media/media-e1e059c94ce5-v11")
    // the dHash lake keys on the fixture's path and file listing: plant
    // a marker-only fixture with a fixed mtime so no fixture is built
    withTempDir("graft-pin-media") { media =>
      withProp("graft.media.dir", media) {
        val mp = new java.io.File(Multimodal.MediaLake.path(sf))
        mp.mkdirs()
        val marker = new java.io.File(mp, "_SUCCESS")
        marker.createNewFile()
        marker.setLastModified(1600000000000L)
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(mp.getPath.getBytes("UTF-8"))
          .take(6).map("%02x".format(_)).mkString
        val got = withProp("graft.index.dir", idx) {
          MediaDedup.dhashPath(spark, sf)
        }
        assert(got == s"$idx/dhash-$key-ef605ba1-v2")
      }
    }
  }
}
