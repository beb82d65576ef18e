package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuiteLike

/** The session every spec runs on: `local[4]` with 4 shuffle partitions,
  * built by [[Sessions]] like the mains' sessions. All specs share one
  * test JVM and therefore one session, so a spec that needs a different
  * runtime conf sets it with [[withConf]] inside its own test — never on
  * the session for the specs that run after it.
  */
trait SharedSpark extends AnyFunSuiteLike {

  protected lazy val spark: SparkSession = SharedSpark.session

  /** Runs `body` with `confs` set on the shared session, then restores
    * each one: back to its previous value, or unset if it had none.
    */
  protected def withConf[A](confs: (String, String)*)(body: => A): A = {
    val before = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** A test whose body runs with the async checkpoint checksum writer
    * off: it can deadlock under rapid local state-store commits.
    */
  protected def streamingTest(name: String)(body: => Any): Unit =
    test(name)(withConf(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")(body))
}

object SharedSpark {

  // in the qualified form the session stores, so that later getOrCreate
  // calls see an unchanged static conf and stay quiet
  private lazy val warehouse =
    "file:" + Files.createTempDirectory("graft_wh").toString

  def session: SparkSession = Sessions.create("local[4]", 4,
    extra = Map("spark.sql.warehouse.dir" -> warehouse))
}
