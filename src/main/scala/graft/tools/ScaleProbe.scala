package graft.tools

import org.apache.spark.sql.functions._

/** The 10× scale probe (r16): a MEASURED, not asserted, linearity
  * claim for the state-build path and the incremental tiers. The sf0.1
  * documents table is replicated k× with distinct ids AND distinct
  * token streams (every word carries a per-replica suffix, so the
  * dedup tiers see genuinely new content rather than k-sized duplicate
  * cliques that would quadratically inflate pair counts and measure
  * the synthesis artifact, not the operator). The other nine tables
  * are shared from sf0.1 (the probed paths read documents only).
  *
  * For each scale k: wall time of the FULL posting-state build
  * (TokenizerQueries.ensurePostingState — every tracker over three
  * ingests) and of the three incremental queries the 100 TB story
  * leans on (q96 incremental MinHash, q103 incremental
  * connected-components, q106 incremental dup spans).
  *
  * Usage: runMain graft.tools.ScaleProbe [k ...]   (default 1 3 10)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val scales = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 3, 10)
    val spark = graft.Sessions.create()
    val base = "/root/testdata/sf0.1"
    val work = "/tmp/scaleprobe"

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1

    // queries whose shape was chosen on sf0.1 timings — materialized
    // pair relations (q18/q56/q143), map-side span excision (q102),
    // doc-sized novelty join (q122), split labels on the join inputs
    // (q166) — re-measured at 10x so a choice that inverts with scale is
    // caught
    val extraQueries = Seq("q18_ngram_jaccard", "q56_dedup_groups",
      "q143_winnow_overlap", "q102_dup_span_removal",
      "q122_ngram_novelty", "q166_state_split_leakage")

    val results = scales.map { k =>
      val dir = s"$work/x$k"
      // replicate with distinct ids and per-replica word suffixes
      val reps = (0 until k).map { r =>
        if (r == 0) docs
        else {
          val base = docs
            .withColumn("doc_id", col("doc_id") + lit(r * maxId))
            .withColumn("text",
              array_join(transform(split(coalesce(col("text"), lit("")),
                " "), w => concat(w, lit(s"_$r"))), " "))
          if (docs.columns.contains("n_chars"))
            base.withColumn("n_chars",
              length(col("text")).cast(docs.schema("n_chars").dataType))
          else base
        }
      }
      reps.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // share the other tables
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "embeddings")) {
        val src = java.nio.file.Paths.get(s"$base/$t.parquet")
        val dst = java.nio.file.Paths.get(s"$dir/$t.parquet")
        if (!java.nio.file.Files.exists(dst)) {
          if (java.nio.file.Files.isDirectory(src)) {
            java.nio.file.Files.walk(src).forEach { p =>
              val rel = src.relativize(p)
              val d = dst.resolve(rel.toString)
              if (java.nio.file.Files.isDirectory(p))
                java.nio.file.Files.createDirectories(d)
              else java.nio.file.Files.copy(p, d)
            }
          } else java.nio.file.Files.copy(src, dst)
        }
      }
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val tBuild = time(
        graft.queries.TokenizerQueries.ensurePostingState(spark, dir))
      def q(name: String): Double = {
        val t = time(graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save())
        graft.ops.Materialize.releaseAll(spark)
        t
      }
      val t96 = q("q96_ingest_neardup")
      val t103 = q("q103_incremental_cc")
      val t106 = q("q106_incremental_dup_spans")
      println(f"SCALE x$k: docs=$nDocs state_build=$tBuild%.1f " +
        f"q96=$t96%.1f q103=$t103%.1f q106=$t106%.1f")
      val extra = extraQueries.map(n => n -> q(n))
      extra.foreach { case (n, t) => println(f"SCALE x$k: $n=$t%.1f") }
      (k, nDocs, tBuild, t96, t103, t106, extra)
    }
    println("\nscale,docs,state_build_s,q96_s,q103_s,q106_s," +
      extraQueries.mkString(","))
    results.foreach { case (k, n, b, a, c, d2, ex) =>
      println(f"$k,$n,$b%.1f,$a%.1f,$c%.1f,$d2%.1f," +
        ex.map(e => f"${e._2}%.1f").mkString(","))
    }
    spark.stop()
  }
}
