package graft.operators


/** The shared keyed-artifact installer behind MediaLake and the stored
  * vector index: marker-last, re-check-before-delete, per-writer
  * staging, lost-race-is-success. These invariants are what both
  * artifact types lean on for cross-process safety — pinned here as
  * plain filesystem unit cases (no Spark: the base's session is lazy).
  */
class ArtifactLakeSpec extends graft.SparkTestBase {

  private def tmp(): java.io.File = new java.io.File(suiteTempDir("artifact-lake-spec"))

  test("installs: build populates staging, marker written last, returns true") {
    val target = new java.io.File(tmp(), "art")
    var stagingSeen: java.io.File = null
    val built = ArtifactLake.ensure(target) { staging =>
      stagingSeen = staging
      staging.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(staging, "data").toPath, "payload")
      assert(!new java.io.File(staging, "_SUCCESS").exists(),
        "marker must not exist during the build")
    }
    assert(built)
    assert(new java.io.File(target, "_SUCCESS").isFile)
    assert(java.nio.file.Files.readString(
      new java.io.File(target, "data").toPath) == "payload")
    assert(!stagingSeen.exists(), "staging left behind after install")
  }

  test("completed target: returns false, build never invoked") {
    val target = new java.io.File(tmp(), "art")
    target.mkdirs()
    new java.io.File(target, "_SUCCESS").createNewFile()
    var invoked = false
    val built = ArtifactLake.ensure(target) { _ => invoked = true }
    assert(!built && !invoked)
  }

  test("a build-created _SUCCESS (parquet commit) is honored, not duplicated") {
    val target = new java.io.File(tmp(), "art")
    val built = ArtifactLake.ensure(target) { staging =>
      staging.mkdirs()
      new java.io.File(staging, "_SUCCESS").createNewFile()
      java.nio.file.Files.writeString(
        new java.io.File(staging, "part-0").toPath, "x")
    }
    assert(built)
    assert(new java.io.File(target, "_SUCCESS").isFile)
    assert(new java.io.File(target, "part-0").isFile)
  }

  test("crashed leftovers (target without marker) are cleared and rebuilt") {
    val target = new java.io.File(tmp(), "art")
    target.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(target, "junk").toPath, "carcass")
    val built = ArtifactLake.ensure(target) { staging =>
      staging.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(staging, "data").toPath, "fresh")
    }
    assert(built)
    assert(!new java.io.File(target, "junk").exists())
    assert(new java.io.File(target, "data").isFile)
  }

  test("losing the install race mid-build: staging dropped, winner kept, no throw") {
    val target = new java.io.File(tmp(), "art")
    val built = ArtifactLake.ensure(target) { staging =>
      staging.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(staging, "data").toPath, "loser")
      // another process installs the completed artifact first
      target.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(target, "data").toPath, "winner")
      new java.io.File(target, "_SUCCESS").createNewFile()
    }
    assert(built)  // this call DID run its build
    assert(java.nio.file.Files.readString(
      new java.io.File(target, "data").toPath) == "winner",
      "winner's artifact must not be replaced")
    // loser's staging must not survive
    val stagings = Option(target.getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.contains("staging"))
    assert(stagings.isEmpty, s"staging leaked: $stagings")
  }

  test("a failed rename with no winner present is loud, not silent") {
    val target = new java.io.File(tmp(), "art")
    intercept[java.io.IOException] {
      ArtifactLake.ensure(target) { staging =>
        staging.mkdirs()
        // sabotage: a NON-EMPTY marker-less target appears (POSIX lets
        // a rename replace an empty dir, so it must have content), so
        // rename fails and no completed winner explains it
        target.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(target, "junk").toPath, "x")
      }
    }
  }

  test("writeLines surfaces a write error instead of dropping it") {
    val full = new java.io.File("/dev/full")
    assume(full.exists(), "needs a device whose writes fail with ENOSPC")
    intercept[java.io.IOException] {
      ArtifactLake.writeLines(full, Seq("add-0", "del-1"))
    }
  }
}
