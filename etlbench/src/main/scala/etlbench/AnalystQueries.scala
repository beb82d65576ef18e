package etlbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries._

/** `analyst_queries`: registry queries from `graft.SparkEntry.queries`
  * over a generated star-schema + events + documents corpus, each forced
  * through the `noop` sink as `graft.Bench` does. The query list and its
  * goldens live in `analyst_golden.tsv`; the seed fixes the op order. */
final class AnalystQueries(spark: SparkSession, seed: Long, size: Size, work: Path,
    trace: Trace) extends Workload {
  import AnalystQueries._
  private val dir = work.resolve("tables")
  private val registry = graft.SparkEntry.queries
  private lazy val golden: IndexedSeq[Golden] = readGolden(size.golden)
  /** The timed order: every listed query once per round, each round in its
    * own seeded order. */
  private lazy val order: IndexedSeq[Golden] = {
    val r = new scala.util.Random(seed)
    (1 to Rounds).flatMap(_ => r.shuffle(golden))
  }

  private var textBytes = 0L

  def stage(): String = {
    textBytes = Gen.analystTables(spark, DataSeed, size.sf, dir)
    f"sf=${size.sf} tables=10 table_mb=${storedBytes / 1e6}%.2f text_mb=${textBytes / 1e6}%.2f " +
      f"queries=${golden.size}"
  }

  private def run(name: String): DataFrame = registry(name)(spark, dir.toString)

  /** Run `f` over every listed query, k at a time. */
  private def parallel[T](f: Golden => T): IndexedSeq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Session.cores)
    try golden.map(g => pool.submit(() => f(g))).map(_.get)
    finally { pool.shutdown(); graft.ops.Materialize.releaseAll(spark) }
  }

  /** Every query once, k at a time: JIT, codegen, parquet footers and the
    * session-keyed memos are warm before timing. */
  def warmUp(): Unit = parallel(g => run(g.name).write.format("noop").mode("overwrite").save())

  def ops: IndexedSeq[Op] = order.indices.map(i =>
    Op(i, order(i).name, () => run(order(i).name).write.format("noop").mode("overwrite").save()))

  def family(op: Int): String = order(op).family

  def reset(): Unit = ()

  /** Each query's row count and order-insensitive row hash equal its
    * golden; a wrong query fails all of its ops. Runs after the timed
    * window, k queries at a time. */
  def check(plant: Boolean): Set[Int] = {
    val wrong = golden.zip(parallel(g => rowHash(run(g.name)))).zipWithIndex.collect {
      case ((g, (n, h)), i) if n != g.rows || (if (plant && i == 0) h + 1 else h) != g.hash => g.name
    }.toSet
    order.indices.filter(i => wrong(order(i).name)).toSet
  }

  def storedBytes: Double = Util.treeBytes(dir).toDouble
  def ingestedBytes: Double = textBytes.toDouble

  def layerProbes(): Map[String, Double] = Map.empty
}

object AnalystQueries {
  /** The analyst corpus is fixed (its goldens are stored); the run seed
    * only orders the queries. */
  val DataSeed = 42L
  /** Timed rounds over the query list: 2 x 20 queries = 40 ops, enough for
    * a p75 with 10 ops beyond it. */
  val Rounds = 2

  final case class Golden(name: String, family: String, rows: Long, hash: Long)

  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "AnalyticsQueries" -> AnalyticsQueries.queries, "ClassifierQueries" -> ClassifierQueries.queries,
    "CompletenessQueries" -> CompletenessQueries.queries, "CoreQueries" -> CoreQueries.queries,
    "CurationQueries" -> CurationQueries.queries, "ExpansionQueries" -> ExpansionQueries.queries,
    "ExtensionQueries" -> ExtensionQueries.queries, "FilterQueries" -> FilterQueries.queries,
    "MixQueries" -> MixQueries.queries, "PiiQueries" -> PiiQueries.queries,
    "PrepQueries" -> PrepQueries.queries, "ReleaseQueries" -> ReleaseQueries.queries,
    "StorageQueries" -> StorageQueries.queries, "TokenizerQueries" -> TokenizerQueries.queries,
    "UrlQueries" -> UrlQueries.queries, "WebQueries" -> WebQueries.queries)

  def familyOf(name: String): String = Families.find(_._2.contains(name)).map(_._1).get

  def readGolden(file: String): IndexedSeq[Golden] =
    Files.readAllLines(Paths.get(file)).asScala.toIndexedSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, f, r, h) = l.split("\t"); Golden(n, f, r.toLong, h.toLong) }

  /** Row count and an order-insensitive hash: the sum of per-row xxhash64
    * over the row's JSON, with top-level floating columns rounded to 6
    * places so summation order cannot change the hash. */
  def rowHash(df: DataFrame): (Long, Long) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      (f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case BinaryType => base64(c)
        case _ => c
      }).as(f.name)
    }
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).longValue)
  }

  /** Writes `file`: the goldens of `names` on the analyst corpus. */
  def writeGolden(spark: SparkSession, work: Path, sf: Double, names: Seq[String],
      file: String): Unit = {
    val dir = work.resolve("tables")
    Gen.analystTables(spark, DataSeed, sf, dir)
    val lines = names.map { n =>
      val (rows, h) = rowHash(graft.SparkEntry.queries(n)(spark, dir.toString))
      graft.ops.Materialize.releaseAll(spark)
      s"$n\t${familyOf(n)}\t$rows\t$h"
    }
    Files.write(Paths.get(file), (s"# query\tfamily\trows\trow_hash (sf=$sf, data seed $DataSeed)" +:
      lines).asJava)
  }
}
