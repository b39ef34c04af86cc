package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md: lazy val, not
  * per-test).
  */
trait SparkTestBase extends AnyFunSuite {
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

  /** Run `body` with `graft.index.dir` pointed at a fresh store root in
    * the JVM temp dir, then restore the property and delete the root.
    * Operators read the property once per instance (a lazy root), so
    * build them inside `body`: an instance shared across blocks keeps
    * writing under the first block's root after it is deleted.
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
