package etlbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Op(id: Int, label: String, run: () => Unit)

/** A workload: seeded inputs, a warm-up, a fixed ordered op list, and an
  * output check that runs after the timed window. */
trait Workload {
  /** Stage the seeded inputs; returns a one-line description of their sizes. */
  def stage(): String
  def warmUp(): Unit
  def ops: IndexedSeq[Op]
  /** Ids of the ops whose output is wrong; `plant` corrupts one answer. */
  def check(plant: Boolean): Set[Int]
  /** Bytes the workload's store holds at the end, and the input bytes it took in. */
  def storedBytes: Double
  def ingestedBytes: Double
  /** Undo the ops' writes so the op list can run again. */
  def reset(): Unit
  /** Traced run only: numbers from the workload's own layer probes. */
  def layerProbes(): Map[String, Double]
}

/** Input sizes. `full` is what the benchmark measures; `tiny` is for the
  * benchmark's own tests and warm-ups. */
final case class Size(days: Int, newJobsPerDay: Int, recurPerDay: Int, sf: Double,
    golden: String, segments: Int, docsPerSegment: Int)

object Size {
  val full: Size = Size(days = 20, newJobsPerDay = 12, recurPerDay = 6, sf = 0.01,
    golden = "etlbench/analyst_golden.tsv", segments = 4, docsPerSegment = 60)
  val tiny: Size = Size(days = 2, newJobsPerDay = 3, recurPerDay = 2, sf = 0.001,
    golden = "etlbench/analyst_golden_tiny.tsv", segments = 2, docsPerSegment = 40)
  /** The corpus layer probe of the analyst traced run: a first generation
    * and one screened one. */
  val corpusProbe: Size = tiny
}

object Main {
  final case class Args(workload: String, seed: Long, trace: Boolean,
      size: Size, plant: Boolean, t0Ms: Long, goldenFor: Option[String], stageOnly: Boolean)

  def parse(a: Seq[String]): Args = {
    val m = a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("trace", "0") == "1",
      if (m.getOrElse("size", "full") == "tiny") Size.tiny else Size.full,
      m.getOrElse("plant-wrong", "0") == "1",
      m.get("t0-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      m.get("write-golden"), m.getOrElse("stage-only", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val work = Paths.get(".bench_build", "work", s"${args.workload}-${ProcessHandle.current().pid()}")
      .toAbsolutePath
    Files.createDirectories(work)
    val spark = Session.create(work)
    val code = try {
      if (args.stageOnly) {
        println(workload(spark, args, work, new Trace).stage())
        val rows = (f: Path) => spark.read.parquet(f.toString).collect().toSeq.map(_.toSeq.map {
          case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
          case v => String.valueOf(v) }.mkString(","))
        println(s"[etlbench] input digest ${Util.treeDigest(work, Set("spark-local", "warehouse"), rows)}")
      } else args.goldenFor match {
        case Some(names) =>
          AnalystQueries.writeGolden(spark, work, args.size.sf, names.split(",").toSeq,
            args.size.golden)
        case None =>
          val r = run(spark, args, work)
          println(r.summary)
          println(Report.json(r))
      }
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    finally {
      spark.stop()
      Util.deleteTree(work)
    }
    sys.exit(code)
  }

  def workload(spark: SparkSession, a: Args, work: Path, trace: Trace): Workload =
    a.workload match {
      case "jobs_etl" => new JobsEtl(spark, a.seed, a.size, work, trace)
      case "analyst_queries" => new AnalystQueries(spark, a.seed, a.size, work, trace)
      case "corpus_ingest" => new CorpusIngest(spark, a.seed, a.size, work, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Results of one pass over the op list; `heapMb` holds the live heap
    * read after each between-op collection. */
  final case class Pass(opSeconds: IndexedSeq[Double], failed: Set[Int], runS: Double,
      heapMb: IndexedSeq[Double])

  /** Run every op in order; between ops, outside the timed window, release
    * materialized blocks, GC, and read the live heap. */
  def pass(spark: SparkSession, wl: Workload, trace: Trace): Pass = {
    val failed = mutable.Set.empty[Int]
    val heap = mutable.ArrayBuffer.empty[Double]
    val secs = wl.ops.map { op =>
      heap += settle(spark) / 1e6
      trace.op = op.id
      val wall0 = System.currentTimeMillis()
      val t0 = Util.now()
      try trace.span("op")(op.run())
      catch { case e: Throwable =>
        failed += op.id
        System.err.println(s"[etlbench] op ${op.label} failed: $e")
      }
      val t = Util.secs(t0)
      if (trace.on) {
        trace.samplePersisted(spark)
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val s = trace.opStats.getOrElseUpdate(op.id, new OpStats)
        val wall1 = System.currentTimeMillis()
        s.wallMs = wall1 - wall0
        s.gapMs = Trace.gapMs(wall0, wall1, s.taskSpans.toSeq)
      }
      trace.op = -1
      t
    }
    heap += settle(spark) / 1e6
    Pass(secs, failed.toSet, secs.sum, heap.toIndexedSeq)
  }

  /** Between ops, as `graft.Bench` does: release materialized blocks,
    * collect, let the ContextCleaner drain. Returns the heap in use right
    * after the collection. */
  def settle(spark: SparkSession): Long = {
    graft.ops.Materialize.releaseAll(spark)
    System.gc()
    val live = Trace.heapUsedBytes
    Thread.sleep(50)
    live
  }

  def run(spark: SparkSession, a: Args, work: Path): Report = {
    val tr = new Trace
    val wl = workload(spark, a, work, tr)
    val t0 = Util.now()
    val sizes = wl.stage()
    println(s"[etlbench] ${a.workload} seed=${a.seed} inputs: $sizes")
    val t1 = Util.now()
    wl.warmUp()
    settle(spark)
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    println(f"[etlbench] setup ${setupS}%.1f s: stage ${Util.secs(t0, t1)}%.1f s, warm-up ${Util.secs(t1)}%.1f s")
    val plain = pass(spark, wl, tr)
    println("[etlbench] op seconds: " + wl.ops.map(o => f"${o.label}=${plain.opSeconds(o.id)}%.3f").mkString(" "))
    val t2 = Util.now()
    val bad = plain.failed ++ wl.check(a.plant)
    println(f"[etlbench] check ${Util.secs(t2)}%.1f s")
    val report = Report(a.workload, setupS, plain, bad, wl.storedBytes / wl.ingestedBytes,
      wl.ops.size)
    if (!a.trace) report
    else {
      // the traced pass: the same ops again from a clean output state
      wl.reset()
      tr.enable(spark)
      Layers.tracedReport(spark, a, work, report, wl, tr)
    }
  }
}
