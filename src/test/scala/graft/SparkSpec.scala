package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites; sf0.001 keeps tests fast. */
trait SparkSpec extends AnyFunSuite {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** `body` with broadcast joins off, and with them GraftDB's driver
    * executors: its reads fold and probe indexes on Spark. */
  protected def onSpark[T](body: => T): T =
    SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** `read` as the session runs it, then again `onSpark`; the two
    * results must be equal. */
  protected def onBothExecutors[T](read: => T): T = {
    val default = read
    assert(onSpark(read) === default, "the Spark executors read another result")
    default
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body` with the session confs set to `confs`; afterwards each key
    * is back at its previous value, or unset if it had none. */
  def withConf[T](confs: (String, String)*)(body: => T): T =
    graft.tools.Harness.withConf(session, confs: _*)(body)
}
