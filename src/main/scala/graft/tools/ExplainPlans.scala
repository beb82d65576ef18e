package graft.tools

import graft.{Sessions, SparkEntry}

/** Plan-inspection main: prints the formatted physical plan of selected
  * queries so pushdown/broadcast/shuffle decisions can be reviewed.
  * Usage: runMain graft.tools.ExplainPlans [queryName ...]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.create()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLAN_ONLY=1: build plans without executing eager
    // materializations (the PlanSpec escape hatch) — shows the full
    // operator tree where the executed shape would truncate at a
    // checkpoint leaf.
    if (sys.env.get("SPARK_GRAFT_PLAN_ONLY").contains("1"))
      spark.conf.set("spark.graft.eagerMaterialize", "false")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
