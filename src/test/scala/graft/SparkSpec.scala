package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  val Cores = 4

  lazy val session: SparkSession = GraftSession.create(cores = Cores,
    warehouseDir = Some(
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
