package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator tests, plus temp directories that
  * are deleted after the suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark: SparkSession = SparkTestSession.session

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh directory under the JVM's temp dir, removed in `afterAll`. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.foreach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        finally walk.close()
      }
    } finally super.afterAll()
}

object SparkTestSession {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
