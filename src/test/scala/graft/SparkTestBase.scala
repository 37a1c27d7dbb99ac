package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = Sessions.get(cores = 4)
}

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp directory that this suite deletes, with everything
    * under it, once its tests have run.
    */
  protected def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try {
      import scala.jdk.CollectionConverters._
      tmpDirs.asScala.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tmpDirs.clear()
    } finally super.afterAll()

  /** Every regular file under `root`: relative path -> (size, mtime).
    * The O(increment)/O(delta) maintenance assertions compare these
    * snapshots — "the base index was not touched" is exactly "its
    * listing is identical". One definition, so every suite asserts
    * untouchedness with the same strength (size AND mtime).
    */
  protected def fileListing(root: String): Map[String, (Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString ->
          (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
    } finally walk.close()
  }
}
