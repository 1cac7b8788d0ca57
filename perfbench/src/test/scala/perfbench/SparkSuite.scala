package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local session per suite, with its warehouse under a temp dir. */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>
  lazy val tmp: Path = Files.createTempDirectory(
    Files.createDirectories(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))),
    "perfbench-test")
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    spark.stop()
    val s = Files.walk(tmp)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally s.close()
    super.afterAll()
  }
}
