package graft.tools

import org.apache.spark.sql.functions._

/** Audit of the sketch dedup tiers against the exact tier — the evidence
  * behind q19's equality oracle (see ExtensionQueries.q19Sql's Scaladoc):
  * at every SF, MinHash-LSH (48 hashes, 8×6 bands) must recall the full
  * unblocked exact Jaccard pair set, and q67's precision gate must be
  * empty. Run after regenerating test data or retuning band parameters:
  *   sbt -batch "runMain graft.tools.SketchCheck"
  */
object SketchCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.create()
    var bad = false
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val docs = graft.queries.Tables.documents(spark, sf)
      val exact = graft.ops.TextDedup.ngramJaccardPairs(
          docs.withColumn("one", lit(1)), "doc_id", "text", "one", 3, 0.5)
        .select("id_a", "id_b").localCheckpoint()
      val lsh = graft.ops.TextDedup.minhashLshPairs(
          docs, "doc_id", "text", 3, 48, 8, 0.5)
        .select("id_a", "id_b")
      val missed = exact.join(lsh, Seq("id_a", "id_b"), "left_anti").count()
      val gate = graft.queries.ExtensionQueries
        .q67_sketch_precision(spark, sf).count()
      println(s"[check] $sf exact=${exact.count()} lsh_missed=$missed " +
        s"precision_gate_rows=$gate")
      if (missed != 0 || gate != 0) bad = true
    }
    spark.stop()
    if (bad) {
      println("[check] FAIL — retune band parameters or drop q19's oracle")
      sys.exit(1)
    }
  }
}
