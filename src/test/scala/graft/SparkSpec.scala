package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs, built like Bench's and Verify's. One
  * session per suite keeps codegen caches warm; 4 shuffle partitions
  * keep tiny-data tests fast. Tables a spec saves go to a scratch
  * warehouse, not the working directory. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
    GraftSession.local(4)
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
