package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. sf0.001 fixtures keep the suite
  * fast; the driver's sf0.01 DuckDB oracle is the heavyweight gate. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = collection.mutable.Buffer[java.nio.file.Path]()

  /** A fresh temp dir, deleted in afterAll. */
  protected def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(graft.maintenance.Compaction.deleteRecursively)
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(graft.maintenance.Compaction.deleteRecursively(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
