package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), small shuffle partition
  * count, UTC, AQE on — mirroring Verify/Bench session settings. */
trait SparkSessionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with the session conf `key` set to `value`, then
    * restores it (or unsets it when it was unset). */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
