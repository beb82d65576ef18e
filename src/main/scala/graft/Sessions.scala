package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is configured. Every main and every
  * spec gets its session here, so all of them measure and test the same
  * engine: one conf, one core count, one log level.
  *
  * The core count of a local master is SPARK_GRAFT_CPUS (default 4); it
  * also sets the shuffle partition count.
  */
object Sessions {

  /** Cores for a local master: SPARK_GRAFT_CPUS, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The shared session on `master` (default `local[cpus]`) with
    * `partitions` shuffle partitions, plus any `extra` confs. `extra`
    * is for static confs that must be in place when the first session
    * starts (a spec's temp warehouse dir); a runtime conf belongs in the
    * caller's own scope, set and restored there.
    *
    * `getOrCreate` applies the runtime confs to an existing session, so
    * every caller must pass the same values here — which is the point
    * of having one factory.
    */
  def create(master: String = s"local[$cpus]", partitions: Int = cpus,
      appName: String = "graft",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The JVM-wide whole-stage-codegen class cache defaults to 100
      // entries; the suite's widest plans (q116/q179: 90+ Exchanges of
      // union tiers) alone generate 500-2000 codegen units, so at the
      // default every bench attempt re-ran Janino over the full plan —
      // measured: q179 4.62 -> 2.96 s, q116 5.00 -> 3.60 s, state_build
      // 105 -> 76 s (min-of-3, sf0.1) from this one knob. Scale-neutral:
      // it trades bounded driver memory for compile time identically on
      // a cluster driver; it caches generated CODE, never data or
      // results.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
