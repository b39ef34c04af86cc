package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md: lazy val, not
  * per-test), and temp dirs that are deleted when their test or suite
  * ends.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sc = spark.sparkContext

  /** Run `body` with a fresh `prefix`-named dir in the JVM temp dir
    * (a corpus, a checkpoint), then delete the dir.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally { org.apache.commons.io.FileUtils.deleteQuietly(dir); () }
  }

  private val suiteDirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** A fresh `prefix`-named dir in the JVM temp dir that lives until the
    * suite ends (a corpus several tests share, or one a helper writes),
    * then is deleted.
    */
  def suiteTempDir(prefix: String): String = synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    suiteDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try synchronized(suiteDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    finally super.afterAll()

  /** Create dir `name` under `root` (e.g. a [[withTempDir]] dir) and
    * return its path.
    */
  def mkdir(root: String, name: String): String =
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, name)).toString

  /** Run `body` with `graft.index.dir` pointed at a fresh store root in
    * the JVM temp dir, then restore the property and delete the root.
    * Operators snapshot the property once per instance
    * (`ArtifactLake.indexRoot` behind a lazy root), so build them inside
    * `body`: an instance shared across blocks keeps installing its
    * stores under the first block's root, rebuilding them there after
    * that root is deleted.
    */
  def withTempRoot[A](body: => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft-root")
    val prev = sys.props.get("graft.index.dir")
    sys.props("graft.index.dir") = root.toString
    try body
    finally {
      prev match {
        case Some(v) => sys.props("graft.index.dir") = v
        case None => sys.props -= "graft.index.dir"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }
}
