package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (SparkSession.builder
  * returns the existing session after the first call, so suites don't
  * pay repeated JVM-wide startup).
  */
object SparkSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()
}

/** Mixin that runs the WHOLE suite on the RocksDB state store
  * provider — the store a 100-TB deployment would run (and
  * `transformWithState`'s contract). Suites execute sequentially in
  * the forked test JVM, so the session-conf swap cannot race.
  */
trait RocksDBStateStore extends org.scalatest.BeforeAndAfterAll {
  self: SparkSuite =>
  private val key = "spark.sql.streaming.stateStore.providerClass"
  private var prev: Option[String] = None
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
  }
  override protected def afterAll(): Unit = {
    prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    super.afterAll()
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** A fresh temp dir, deleted when the test JVM exits. */
  def tmpDir(prefix: String): String = graft.tools.TempDirs.create(prefix)

  /** Run `body` on the RocksDB state store provider —
    * `transformWithState`'s contract and the store the 100-TB
    * deployment would run, so every streaming suite exercises it
    * rather than the default HDFS-backed store.
    */
  def withRocksDB(body: => Unit): Unit =
    withSQLConf("spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider"))(body)

  /** Run `body` with SQL confs set, restoring prior values after. */
  def withSQLConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prior = pairs.map { case (k, _) =>
      k -> spark.conf.getOption(k)
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
