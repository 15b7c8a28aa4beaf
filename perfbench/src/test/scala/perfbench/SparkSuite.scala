package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite, with its scratch under target/. */
abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val tmp: Path = Files.createDirectories(Paths.get("target", "test-tmp").toAbsolutePath)
  lazy val spark: SparkSession = Main.session(Files.createTempDirectory(tmp, "work"))

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
