package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuiteLike

import graft.queries.StorageQueries

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

  /** Jobs `body` starts, counted by running it in its own job group and
    * then waiting for a marker job: the bus delivers in order, so once the
    * marker's start arrives every earlier start has too.
    */
  protected def jobsStartedBy(body: => Unit): Int = {
    val groups = new SharedSpark.JobGroups
    val group = s"counted-${System.nanoTime()}"
    spark.sparkContext.addSparkListener(groups)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (groups.count(s"$group-marker") == 0 && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.count(s"$group-marker") > 0, "marker job never arrived")
      groups.count(group)
    } finally spark.sparkContext.removeSparkListener(groups)
  }

  /** A fresh temp dir, deleted with its contents when the JVM exits. */
  protected def tempDir(prefix: String): Path = SharedSpark.tempDir(prefix)

  /** A test whose body runs with the async checkpoint checksum writer
    * off: it can deadlock under rapid local state-store commits.
    */
  protected def streamingTest(name: String)(body: => Any): Unit =
    test(name)(withConf(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")(body))
}

object SharedSpark {

  /** Job starts per job group, delivered by the listener bus. */
  private final class JobGroups extends SparkListener {
    private val seen = new ConcurrentLinkedQueue[String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
    def count(group: String): Int = {
      var n = 0
      seen.forEach(g => if (g == group) n += 1)
      n
    }
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]

  // one hook for every dir, registered on the first tempDir call; it also
  // removes q104's pid-scoped CSV dir, which only an oracle compare reads
  // after its JVM exits and none reads after the tests (q117's shard dir
  // deletes itself)
  private lazy val deleteAtExit = sys.addShutdownHook {
    tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
    FileUtils.deleteQuietly(new java.io.File(StorageQueries.csvRoundtripDir))
  }

  /** A fresh temp dir under `java.io.tmpdir`, deleted recursively when
    * the test JVM exits (a spec's dirs may outlive the spec: a later one
    * can still read a path the session cached).
    */
  def tempDir(prefix: String): Path = {
    deleteAtExit
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  // in the qualified form the session stores, so that later getOrCreate
  // calls see an unchanged static conf and stay quiet
  private lazy val warehouse = "file:" + tempDir("graft_wh").toString

  def session: SparkSession = Sessions.create("local[4]", 4,
    extra = Map("spark.sql.warehouse.dir" -> warehouse))
}
