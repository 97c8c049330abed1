package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, small shuffle fan-out). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Run `body` with the given SQL confs set on the shared session, then
    * restore each key's previous value — or unset it when it had no
    * explicit value, so later specs see the session default. */
  def withSessionConf[T](confs: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the checkpoint manager every GraftSession runs its streams on
      .config(GraftSession.CheckpointFileManagerConf,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
