package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator draws from its own
  * `SplittableRandom(seed, tag)` stream in a fixed order, so one seed gives
  * byte-identical staged files; the engine only ever sees those files.
  */
object Gen {

  def rng(seed: Long, tag: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ tag.hashCode.toLong)

  /** Write `df` as ONE parquet file at `file` (the layout of the engine's
    * test corpus: `<dir>/<table>.parquet`). */
  def writeParquetFile(df: DataFrame, file: Path): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Util.deleteTree(tmp)
  }

  private def table(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private val Epoch1995 = LocalDate.of(1995, 1, 1)
  private def day(d: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(Epoch1995.plusDays(d.toLong).atStartOfDay())

  val Vocab: Array[String] = ("query row stream the spark line small fast group customer batch " +
    "sort value hash filter big data dup part column order scan a slow agg key window table " +
    "merge vector join").split(" ")
  val Langs: Array[String] = Array("en", "en", "en", "zh", "de", "fr", "es")

  /** One document text: 8-100 vocabulary words; every 25th doc copies an
    * earlier doc with one word changed (near-duplicate), every 90th copies
    * it exactly, so the dedup tiers have work to do. */
  def docTexts(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, "docs")
    val out = new Array[String](n)
    for (i <- 0 until n) {
      out(i) =
        if (i > 10 && i % 90 == 0) out(r.nextInt(i))
        else if (i > 10 && i % 25 == 0) {
          val w = out(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
          w.mkString(" ")
        } else Array.fill(8 + r.nextInt(93))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    out
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documents(spark: SparkSession, seed: Long, n: Int, firstId: Long = 0L): DataFrame = {
    val r = rng(seed, "doclang")
    val texts = docTexts(seed, n)
    table(spark, DocSchema, texts.indices.map { i =>
      Row(firstId + i, texts(i), Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}",
        texts(i).length.toLong)
    })
  }

  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = rng(seed, "emb")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    table(spark, schema, (0 until n).map { i =>
      Row(i.toLong, Array.fill(64)((r.nextGaussian() * 0.12).toFloat).toSeq, r.nextInt(10))
    })
  }

  /** The star-schema + events + documents corpus the registry queries read,
    * with the engine's test-corpus schemas and value domains. `sf` scales
    * row counts as TPC-H does (lineitem = 6M x sf). Returns the bytes the
    * rows take as CSV text. */
  def analystTables(spark: SparkSession, seed: Long, sf: Double, dir: Path): Long = {
    Files.createDirectories(dir)
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = math.max(500, n(50000)); val nEmb = math.max(500, n(20000))
    val segs = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val adj = Array("large", "hot", "blue", "old", "cold", "small", "green", "new")
    val noun = Array("ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "spring")
    val types = Array("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val evTypes = Array("signup", "click", "error", "view", "purchase")
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

    val specs: Seq[(String, StructType, () => Seq[Row])] = Seq(
      ("region", StructType(Seq(StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType))),
        () => Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (s, i) => Row(i, s) }),
      ("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
        () => (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", StructType(Seq(StructField("c_custkey", LongType),
          StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
          StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
        () => { val r = rng(seed, "customer"); (0 until nCust).map(i => Row(i.toLong,
          f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
          segs(r.nextInt(segs.length)))) }),
      ("supplier", StructType(Seq(StructField("s_suppkey", LongType),
          StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType))),
        () => { val r = rng(seed, "supplier"); (0 until nSupp).map(i => Row(i.toLong,
          f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))) }),
      ("part", StructType(Seq(StructField("p_partkey", LongType),
          StructField("p_name", StringType), StructField("p_brand", StringType),
          StructField("p_type", StringType), StructField("p_size", IntegerType),
          StructField("p_retailprice", DoubleType))),
        () => { val r = rng(seed, "part"); (0 until nPart).map(i => Row(i.toLong,
          adj(r.nextInt(adj.length)) + " " + noun(r.nextInt(noun.length)),
          s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)), 1 + r.nextInt(50),
          900.0 + (i % 1000) / 10.0)) }),
      ("orders", StructType(Seq(StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
          StructField("o_orderpriority", StringType))),
        () => { val r = rng(seed, "orders"); (0 until nOrd).map(i => Row(i.toLong,
          r.nextInt(nCust).toLong, "OPF".charAt(r.nextInt(3)).toString,
          money(r, 1000, 500000), day(r.nextInt(2404)), prios(r.nextInt(prios.length)))) }),
      ("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
          StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
          StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
          StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
          StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
          StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
        () => { val r = rng(seed, "lineitem"); (0 until nLine).map(i => Row(
          r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
          1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
          "OF".charAt(r.nextInt(2)).toString, day(1 + r.nextInt(2499)))) }),
      ("events", StructType(Seq(StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType),
          StructField("props", StringType))),
        () => { val r = rng(seed, "events")
          val step = 30L * 86400L * 1000000L / nEv
          (0 until nEv).map { i =>
            val us = ts0 * 1000L + i * step + r.nextLong(step)
            val t = new java.sql.Timestamp(us / 1000000L * 1000L); t.setNanos((us % 1000000L).toInt * 1000)
            Row(i.toLong, t, r.nextInt(math.max(15, nEv / 67)).toLong,
              evTypes(r.nextInt(evTypes.length)), money(r, 0, 560),
              s"""{"k": ${r.nextInt(100)}}""")
          } }))
    def csvBytes(rows: Seq[Row]): Long = rows.iterator.map(r => r.toSeq.map {
      case s: Seq[_] => s.mkString(",").length + 2
      case v => String.valueOf(v).length }.sum + r.length).sum
    val tables: Seq[(String, () => DataFrame)] =
      specs.map { case (name, schema, gen) => name -> (() => table(spark, schema, gen())) } ++
        Seq("documents" -> (() => documents(spark, seed, nDoc)),
          "embeddings" -> (() => embeddings(spark, seed, nEmb)))
    // the ten tables are independent: write them k at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Session.cores)
    try tables.map { case (name, df) => pool.submit { () =>
      val d = df()
      writeParquetFile(d, dir.resolve(s"$name.parquet"))
      csvBytes(d.collect().toSeq)
    } }.map(_.get).sum
    finally pool.shutdown()
  }

  // ---- jobs: sightings CSVs and an HTML lake templated from a real page

  val Keywords: Array[String] = Array("data-engineer", "data-analyst", "software-engineer",
    "it-support", "business-analyst", "accountant", "marketing", "sales", "project-manager",
    "designer", "administrator")
  /** The eight JobsDB salary bands (HKD/month): (salary_min, salary_max). */
  val Bands: Array[(Int, Int)] = Array((0, 10000), (10000, 15000), (15000, 20000),
    (20000, 30000), (30000, 40000), (40000, 60000), (60000, 80000), (80000, 120000))
  private val Roles = Array("Data Engineer", "Analyst", "Developer", "Support Engineer",
    "Accountant", "Designer", "Sales Executive", "Project Manager", "Administrator")
  private val Levels = Array("Junior", "Senior", "Lead", "Assistant", "Principal")
  private val Districts = Array("Kowloon Bay", "Central", "Kwun Tong", "Sha Tin", "Wan Chai")

  /** One new job: its id, title, every band it is sighted under (a
    * contiguous run, so the imputed envelope is (min of mins, max of
    * maxes)), and the keywords whose searches return it. */
  final case class Job(id: String, title: String, company: String, district: String,
      bands: Seq[Int], keywords: Seq[String]) {
    def envelope: (Int, Int) = (Bands(bands.head)._1, Bands(bands.last)._2)
  }

  final case class JobsInput(days: Seq[LocalDate], newJobs: Seq[Seq[Job]],
      csvDirs: Seq[Path], lakeDirs: Seq[Path], htmlBytes: Long, csvBytes: Long)

  /** Stage `nDays` of scrape output under `root`: per day one CSV per
    * (keyword, band) search (88 files) in `csv/<day>/`, and one page per
    * NEW job in `lake/yyyy/MM/dd/<job_id>.html`. Each day also re-sights
    * `recurPerDay` jobs from earlier days (the ledger must drop them) and
    * duplicates some sighting rows (ingest must dedupe them). */
  def jobs(seed: Long, root: Path, template: String, nDays: Int, newPerDay: Int,
      recurPerDay: Int): JobsInput = {
    val r = rng(seed, "jobs")
    val start = LocalDate.of(2024, 3, 1)
    val days = (0 until nDays).map(d => start.plusDays(d.toLong))
    var htmlBytes = 0L; var csvBytes = 0L
    val seen = scala.collection.mutable.ArrayBuffer.empty[Job]
    val perDay = days.zipWithIndex.map { case (date, d) =>
      val fresh = (0 until newPerDay).map { j =>
        val lo = r.nextInt(Bands.length); val hi = math.min(Bands.length - 1, lo + r.nextInt(3))
        val kws = (0 to r.nextInt(2)).map(_ => Keywords(r.nextInt(Keywords.length))).distinct
        Job(s"${10000000 + d * 1000 + j}",
          s"${Levels(r.nextInt(Levels.length))} ${Roles(r.nextInt(Roles.length))} ${r.nextInt(1000)}",
          s"Company ${r.nextInt(500)} Ltd", Districts(r.nextInt(Districts.length)),
          lo to hi, kws)
      }
      val recur = if (seen.isEmpty) Nil else (0 until recurPerDay).map(_ => seen(r.nextInt(seen.size)))
      val csvDir = root.resolve(s"csv/$date"); Files.createDirectories(csvDir)
      // sightings grouped by (keyword, band) search, rows in a fixed order
      val rows = (fresh ++ recur).flatMap(j => for (k <- j.keywords; b <- j.bands) yield (k, b, j))
      for (k <- Keywords.indices; b <- Bands.indices) {
        val hits = rows.filter(x => x._1 == Keywords(k) && x._2 == b)
        val lines = hits.flatMap { case (kw, band, j) =>
          val line = s"$kw,${j.id},${Bands(band)._1},${Bands(band)._2},$date," +
            s"https://hk.jobsdb.com/hk/en/job/${j.id}"
          if (r.nextInt(10) == 0) Seq(line, line) else Seq(line)
        }
        val bytes = lines.map(_ + "\n").mkString.getBytes(UTF_8)
        Files.write(csvDir.resolve(f"${Keywords(k)}_band$b.csv"), bytes)
        csvBytes += bytes.length
      }
      val lakeDir = root.resolve(f"lake/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d")
      Files.createDirectories(lakeDir)
      fresh.foreach { j =>
        val bytes = page(template, j).getBytes(UTF_8)
        Files.write(lakeDir.resolve(s"${j.id}.html"), bytes)
        htmlBytes += bytes.length
      }
      seen ++= fresh
      (fresh, csvDir, lakeDir)
    }
    JobsInput(days, perDay.map(_._1), perDay.map(_._2), perDay.map(_._3), htmlBytes, csvBytes)
  }

  val TemplateTitle = "IT Technical Support Engineer"
  val TemplateCompany = "Ogawa Health Care International (HK) Ltd"

  def page(template: String, j: Job): String =
    template.replace(TemplateTitle, j.title).replace(TemplateCompany, j.company)
      .replace(">Kowloon Bay<", s">${j.district}<")
}
