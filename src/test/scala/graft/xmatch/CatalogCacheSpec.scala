package graft.xmatch

import java.nio.file.{Files, Path}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.filters.AlertFilter
import graft.filters.ztf.ZtfXmatchFilters

/** The [[Catalogs]] memo behind the packaged cross-match filters, over
  * generated catalogs written in the packaged layout to a temporary
  * directory; no fixture is read.
  *
  * The uncached form — a factory of [[ZtfXmatchFilters]] over the
  * loader's `DataFrame`, which reads the file on every apply — gives the
  * expected labels; `MutualNearestSpec` checks that form against a
  * brute-force restatement of the contract.
  */
class CatalogCacheSpec extends SparkSpec {
  import CatalogCacheSpec._

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  private val alertSchema = StructType(Seq(f("candid", LongType),
    f("candidate", StructType(Seq(f("ra", DoubleType), f("dec", DoubleType),
      f("isdiffpos", StringType))))))

  /** Sources spread over a patch of sky, and alerts half of which sit
    * within 0.1–0.9 of a source's radius (the others anywhere in the
    * patch); a third of the alerts are negative subtractions.
    */
  private def generate(seed: Long, n: Int): (Seq[Source], Seq[Row]) = {
    val rng = new scala.util.Random(seed)
    val sources = (0 until n).map { i =>
      Source(f"s$seed-$i%03d", 150 + 20 * rng.nextDouble(),
        -10 + 20 * rng.nextDouble(), 2 + 8 * rng.nextDouble())
    }
    val alerts = (0 until 3 * n).map { i =>
      val (ra, dec) =
        if (i % 2 == 0) {
          val s = sources(rng.nextInt(n))
          val d = (0.1 + 0.8 * rng.nextDouble()) * s.radius / 3600 / math.sqrt(2)
          (s.ra + d / math.cos(math.toRadians(s.dec)), s.dec + d)
        } else (150 + 20 * rng.nextDouble(), -10 + 20 * rng.nextDouble())
      Row(1000L * seed + i, Row(ra, dec, if (i % 3 == 0) "f" else "t"))
    }
    (sources, alerts)
  }

  /** Writes the four catalogs under `dir` as the reference packages
    * them: sexagesimal strings for the symbiotic parquet and the CSV.
    */
  private def write(dir: Path, ss: Seq[Source]): Unit = {
    import spark.implicits._
    def parquet(rel: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(rel).toString)
    parquet("ztf/filter_known_tde/data/tde.parquet",
      ss.map(s => (s.name, s.ra, s.dec)).toDF("name", "ra", "dec"))
    parquet("data/symbiotic_and_cataclysmic.parquet",
      ss.map(s => (s.name, "symbiotic", hms(s.ra), dms(s.dec), s.radius))
        .toDF("Name", "source", "RA(J2000)", "DEC(J2000)", "Radius"))
    parquet("data/list_dwarfs_AGN_RADEC.parquet",
      ss.map(s => (s.name, s.ra, s.dec, s.radius)).toDF("MaNGAID", "RA", "DEC", "Re_arc"))
    writeCsv(dir, ss)
  }

  private def writeCsv(dir: Path, ss: Seq[Source]): Unit = {
    val csv = dir.resolve("data/magnetic_cataclysmic_variables.csv")
    Files.createDirectories(csv.getParent)
    Files.writeString(csv, ("Name,RA(J2000),DEC(J2000),Radius" +:
      ss.map(s => s"${s.name},${hms(s.ra)},${dms(s.dec)},${s.radius}")).mkString("\n"))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), alertSchema)

  /** candid → catalog label of a filter's output (the label column is
    * the last one).
    */
  private def labels(df: DataFrame): Map[Long, String] =
    df.select("candid", df.columns.last).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** (registry name, the packaged filter under `dir`, the uncached
    * factory filter over the loader's DataFrame).
    */
  private def filters(dir: Path): Seq[(String, AlertFilter, AlertFilter)] = {
    val d = dir.toString
    val uncached = Seq(
      ZtfXmatchFilters.knownTde(Catalogs.knownTde(spark, dir = d)),
      ZtfXmatchFilters.magneticCvs(Catalogs.magneticCvs(spark, dir = d)),
      ZtfXmatchFilters.symbioticStars(Catalogs.symbiotic(spark, dir = d)),
      ZtfXmatchFilters.dwarfAgn(Catalogs.dwarfAgn(spark, dir = d)))
    ZtfXmatchFilters.packaged(d).zip(uncached).map { case (p, u) =>
      assert(p.name === u.name)
      (p.name, p, u)
    }
  }

  /** A test over a temporary directory of its own, deleted after it. */
  private def dirTest(name: String)(body: Path => Unit): Unit = test(name) {
    val dir = Files.createTempDirectory("catalog-cache")
    try body(dir) finally deleteTree(dir)
  }

  dirTest("every packaged filter labels as its uncached form, first apply and later") { dir =>
    val (sources, alerts) = generate(1L, 120)
    write(dir, sources)
    val df = frame(alerts)
    val d = dir.toString
    filters(dir).foreach { case (name, packaged, uncached) =>
      val want = labels(uncached(df))
      assert(want.size >= 20, s"$name: ${want.size} matches")
      assert(labels(packaged(df)) === want, name)
      assert(labels(packaged(df)) === want, name)
    }
    // the memo holds the loader's rows, in the loader's order
    Seq(
      Catalogs.knownTdeRows(spark, d) -> Catalogs.knownTde(spark, dir = d),
      Catalogs.magneticCvsRows(spark, d) -> Catalogs.magneticCvs(spark, d),
      Catalogs.symbioticRows(spark, d) -> Catalogs.symbiotic(spark, d),
      Catalogs.dwarfAgnRows(spark, d) -> Catalogs.dwarfAgn(spark, d)).foreach {
      case (rows, df) => assert(rows === CrossMatch.collectCatalog(df))
    }
  }

  dirTest("a second apply of a packaged filter runs two Spark jobs") { dir =>
    // pairs and materialization: no schema, header or catalog job
    val (sources, alerts) = generate(2L, 60)
    write(dir, sources)
    val df = frame(alerts)
    filters(dir).foreach { case (name, packaged, uncached) =>
      def run(f: AlertFilter): Long = f(df).queryExecution.toRdd.count()
      val want = run(uncached)
      val (first, firstJobs) = JobCount(spark.sparkContext)(run(packaged))
      assert(first === want, name)
      assert(firstJobs > 2, s"$name: the first apply reads the catalog")
      assert(JobCount(spark.sparkContext)(run(packaged)) === ((want, 2)), name)
    }
  }

  dirTest("a rewritten catalog is read again on the next apply") { dir =>
    val (before, alerts) = generate(3L, 60)
    write(dir, before)
    val df = frame(alerts)
    val old = filters(dir).map { case (name, packaged, _) => name -> labels(packaged(df)) }
    // other sources near the same alerts: the parquet catalogs get new
    // files, the CSV is rewritten in place with another length
    val after = before.take(40).map(s => s.copy(name = s.name + "-v2"))
    write(dir, after)
    filters(dir).zip(old).foreach { case ((name, packaged, uncached), (_, was)) =>
      val want = labels(uncached(df))
      assert(want !== was, name)
      assert(labels(packaged(df)) === want, name)
    }
  }

  dirTest("a deleted catalog fails the apply, naming its path") { dir =>
    val (sources, alerts) = generate(4L, 60)
    write(dir, sources)
    val df = frame(alerts)
    val (_, dwarf, uncached) = filters(dir).last
    val want = labels(uncached(df))
    assert(labels(dwarf(df)) === want)
    val path = dir.resolve("data/list_dwarfs_AGN_RADEC.parquet")
    deleteTree(path)
    val e = intercept[Exception](dwarf(df))
    assert(e.getMessage.contains(path.toString), e.getMessage)
    // a file that lists but does not load fails the apply too
    Files.writeString(path, "not parquet")
    val bad = intercept[Exception](dwarf(df))
    assert(bad.getMessage.contains(path.getFileName.toString), bad.getMessage)
    Files.delete(path)
    // a catalog written back with other rows is read, not the old entry
    val other = sources.drop(20)
    write(dir, other)
    assert(labels(dwarf(df)) === labels(ZtfXmatchFilters.dwarfAgn(
      Catalogs.dwarfAgn(spark, dir.toString))(df)))
  }

  dirTest("eight concurrent first applies give identical labels") { dir =>
    val (sources, alerts) = generate(5L, 80)
    write(dir, sources)
    val df = frame(alerts)
    val fs = filters(dir)
    val want = fs.map { case (name, _, uncached) => name -> labels(uncached(df)) }
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CyclicBarrier(8)
      val runs = Seq.fill(8)(Future {
        start.await(60, TimeUnit.SECONDS)
        fs.map { case (name, packaged, _) => name -> labels(packaged(df)) }
      })
      Await.result(Future.sequence(runs), 5.minutes).foreach(got => assert(got === want))
    } finally pool.shutdownNow(): Unit
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }
}

object CatalogCacheSpec {
  private final case class Source(name: String, ra: Double, dec: Double, radius: Double)

  /** "HH MM SS.sss" */
  private def hms(raDeg: Double): String = {
    val ms = math.round(raDeg / 15 * 3600 * 1000)
    f"${ms / 3600000}%02d ${ms / 60000 % 60}%02d ${ms % 60000 / 1000.0}%06.3f"
  }

  /** "±DD MM SS.ss" */
  private def dms(decDeg: Double): String = {
    val cs = math.round(math.abs(decDeg) * 3600 * 100)
    val sign = if (decDeg < 0) "-" else "+"
    f"$sign${cs / 360000}%02d ${cs / 6000 % 60}%02d ${cs % 6000 / 100.0}%05.2f"
  }
}
