package graft.xmatch

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExpressionBridge
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.astro.Astro
import graft.expressions.AngularSeparation

/** Spatial cross-match operators (O17-O19) — the engine analog of
  * fink-science's `cross_match_astropy` as consumed at
  * `fink_filters/ztf/filter_known_tde/filter.py:59-90`,
  * `filter_symbiotic_stars/filter.py:34-107` and
  * `filter_dwarf_agn/filter.py:34-94`.
  *
  * Semantics (validated against all three datatest fixtures,
  * tools/dev_goldens_xmatch.py): MUTUAL nearest neighbour — an alert is
  * labeled with a catalog source iff the source is the alert's nearest
  * AND the alert is the source's nearest, and their separation is below
  * the (per-source) match radius. This reproduces the reference counts
  * exactly (1/21 TDE, 19/20 symbiotic, 1/1 dwarf-AGN), including the
  * "two alerts merged into one match" behavior its comments describe
  * (`filter_symbiotic_stars/filter.py:68-75`). Ties break by catalog row
  * order on the alert side and by alert id on the source side.
  *
  * Plan: the catalog is small, so it is read to the driver (once per
  * call, or once per file version through [[Catalogs]]), each call
  * finds each alert's candidate pairs with a per-row kernel over a
  * declination-sorted copy of it, collects the pairs in one job and
  * resolves the mutual-nearest matches on the driver. No sort, shuffle
  * or join touches the alert rows.
  *
  * Why pruning at `sep < maxRad` (the largest finite radius) is safe: a
  * match has `sep < radius ≤ maxRad`, and every pair that ranks before
  * it at its alert or at its source has a separation no larger, so the
  * prune keeps all of them and the match keeps both of its ranks.
  * Conversely, a kept pair that ranks first at both ends among the kept
  * pairs and passes the gate ranks first in the full set too: any pair
  * ranking before it would be below `maxRad` and kept. So only pairs
  * that fail the gate whatever their ranks are dropped. A per-source
  * prune (`sep < radius(source)`) is NOT safe: it drops an alert's
  * nearest source when that source is out of its own (small) range,
  * and can then match the alert with a farther source whose radius is
  * larger.
  *
  * Size of the collected pairs: every pair has `sep < maxRad`, so there
  * are at most Σ over eligible alerts of the catalog sources within
  * `maxRad` of the alert — alerts × (densest `maxRad` cap of the
  * catalog), a source or two per alert for arcsecond radii, and never
  * more than alerts × catalog rows.
  */
object CrossMatch {

  /** The catalog's sources with usable coordinates, sorted by
    * declination, as the candidate-pair kernel searches them.
    */
  private final class DecIndex(cid: Array[Int], ra: Array[Double],
      dec: Array[Double], maxRad: Double) extends Serializable {

    /** (cid, separation in arcsec) of every source with
      * |Δdec|·3600 ≤ maxRad and a separation below maxRad, computed as
      * `AngularSeparation.compute(alert, source) * 3600`.
      */
    def pairs(aRa: Double, aDec: Double): Array[(Int, Double)] = {
      val w = maxRad / 3600.0 + 1e-9 // a wider window; the exact test follows
      var lo = 0
      var hi = dec.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (dec(mid) < aDec - w) lo = mid + 1 else hi = mid
      }
      val out = Array.newBuilder[(Int, Double)]
      var i = lo
      while (i < dec.length && dec(i) <= aDec + w) {
        if (math.abs(aDec - dec(i)) * 3600.0 <= maxRad) {
          val sep = AngularSeparation.compute(aRa, aDec, ra(i), dec(i)) * 3600.0
          if (sep < maxRad) out += ((cid(i), sep))
        }
        i += 1
      }
      out.result()
    }
  }

  /** The catalog's rows as the matching reads them:
    * (name: string, ra, dec, radius_arcsec: double), in the catalog's
    * row order, which breaks ties. Runs one job (none for a local
    * catalog).
    *
    * @param catalog small DataFrame with columns
    *                (name: string, ra, dec: double degrees,
    *                radius_arcsec: double)
    */
  def collectCatalog(catalog: DataFrame): IndexedSeq[Row] =
    catalog.select(col("name").cast("string"),
      col("ra").cast("double"), col("dec").cast("double"),
      col("radius_arcsec").cast("double")).collect().toIndexedSeq

  /** [[mutualNearestLabelRows]] over `catalog`, collected on every call
    * (one job to read it, none for a local one).
    */
  def mutualNearestLabel(
      df: DataFrame,
      idCol: String,
      ra: Column,
      dec: Column,
      catalog: DataFrame,
      outCol: String,
      noMatch: String = "Unknown",
      eligible: Column = lit(true)): DataFrame =
    mutualNearestLabelRows(df, idCol, ra, dec, collectCatalog(catalog),
      outCol, noMatch, eligible)

  /** Adds `outCol` to `df`: the matched catalog `name`, or `noMatch`.
    *
    * Only rows where `eligible` holds take part in the matching; the
    * others get `noMatch`. A row with a null id or coordinate, or a
    * source with a null or NaN coordinate, takes no part either, so it
    * blocks no match. A source whose radius is null, NaN or infinite
    * competes for its alerts but never matches. Runs one job, which
    * collects the pairs.
    *
    * @param cat   the catalog's rows in the form [[collectCatalog]]
    *              returns
    * @param idCol a UNIQUE alert id column name in df
    */
  def mutualNearestLabelRows(
      df: DataFrame,
      idCol: String,
      ra: Column,
      dec: Column,
      cat: IndexedSeq[Row],
      outCol: String,
      noMatch: String = "Unknown",
      eligible: Column = lit(true)): DataFrame = {
    val idType = df.select(col(idCol)).schema.head.dataType
    val alerts = df.filter(eligible && col(idCol).isNotNull)
      .select(col(idCol).as("aid"), ra.cast("double").as("ra"), dec.cast("double").as("dec"))
    val labels = matches(alerts, idType, cat)
    if (labels.isEmpty) df.withColumn(outCol, lit(noMatch))
    else {
      val byId = ExpressionBridge.column(Literal(
        ArrayBasedMapData(labels.map(_._1), labels.map(_._2)),
        MapType(idType, StringType, valueContainsNull = false)))
      df.withColumn(outCol, coalesce(byId(col(idCol)), lit(noMatch)))
    }
  }

  private final case class Pair(aid: Any, cid: Int, sep: Double)

  /** The mutual-nearest (alert id, source name) matches of `alerts`
    * (aid, ra, dec) against the collected catalog rows; ids are in
    * Catalyst's internal form, so they key a map literal.
    */
  private def matches(alerts: DataFrame, idType: DataType,
      cat: IndexedSeq[Row]): Array[(Any, UTF8String)] = {
    def num(r: Row, i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    val radius = cat.map { r => val v = num(r, 3); if (v.isInfinite) Double.NaN else v }
    radius.filterNot(_.isNaN).maxOption.fold(Array.empty[(Any, UTF8String)]) { maxRad =>
      val usable = cat.indices.filter(i => !num(cat(i), 1).isNaN && !num(cat(i), 2).isNaN)
        .sortBy(i => num(cat(i), 2))
      val index = new DecIndex(usable.toArray, usable.map(i => num(cat(i), 1)).toArray,
        usable.map(i => num(cat(i), 2)).toArray, maxRad)
      val kernel = udf((a: Double, d: Double) => index.pairs(a, d))
      val key = CatalystTypeConverters.createToCatalystConverter(idType)
      val pairs = alerts.select(col("aid"), inline(kernel(col("ra"), col("dec"))))
        .collect().map(r => Pair(key(r.get(0)), r.getInt(1), r.getDouble(2)))

      val idOrder = PhysicalDataType.ordering(idType)
      val nearestSource = pairs.groupMapReduce(_.aid)(identity)((p, q) =>
        if (q.sep < p.sep || q.sep == p.sep && q.cid < p.cid) q else p)
      val nearestAlert = pairs.groupMapReduce(_.cid)(identity)((p, q) =>
        if (q.sep < p.sep || q.sep == p.sep && idOrder.lt(q.aid, p.aid)) q else p)
      nearestAlert.values.collect {
        case p if nearestSource(p.aid).cid == p.cid && p.sep < radius(p.cid) &&
            !cat(p.cid).isNullAt(0) => p.aid -> UTF8String.fromString(cat(p.cid).getString(0))
      }.toArray
    }
  }
}

/** Loaders normalizing the reference's packaged catalogs to the
  * (name, ra, dec, radius_arcsec) contract. Paths default to the
  * read-only reference checkout; deployments point FINK_FILTERS_DATA at
  * their own copies.
  *
  * Each loader has two forms. The `DataFrame` form reads the file
  * anew. The `Rows` form returns the collected, normalised rows
  * ([[CrossMatch.collectCatalog]]) from an in-process memo, so a filter
  * bound to the packaged catalogs reads each one once, not on every
  * apply or micro-batch.
  *
  * The memo holds one entry per catalog path. Every call lists the
  * path's files through the Hadoop `FileSystem` (no Spark job) and
  * compares each file's path, length and modification time with those
  * seen when the entry was made; any difference replaces the entry
  * with one that reloads the catalog. A rewrite that keeps every
  * file's name and length within one modification-time tick (a
  * millisecond on a local disk) is not seen. A missing path fails the
  * call, naming it, and a failed load removes its entry. The key's
  * `ConcurrentHashMap.compute` only swaps the entry; the load runs
  * after it, once per entry, with concurrent callers of the same entry
  * waiting for it, so a load holds no lock of the map. The entries are
  * plain rows, tied to no session.
  */
object Catalogs {
  import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.SparkSession

  /** The packaged catalogs' root: `FINK_FILTERS_DATA`, else the
    * reference checkout's `fink_filters/` (which fails, naming the
    * fixture root, when the checkout is absent).
    */
  def dataDir: String =
    sys.env.getOrElse("FINK_FILTERS_DATA", graft.Fixtures("fink_filters"))

  private def tdePath(dir: String) = s"$dir/ztf/filter_known_tde/data/tde.parquet"
  private def symbioticPath(dir: String) = s"$dir/data/symbiotic_and_cataclysmic.parquet"
  private def magneticCvsPath(dir: String) = s"$dir/data/magnetic_cataclysmic_variables.csv"
  private def dwarfAgnPath(dir: String) = s"$dir/data/list_dwarfs_AGN_RADEC.parquet"

  /** (path, length, modification time) of every file under a path. */
  private type Stamp = Seq[(String, Long, Long)]

  /** The rows of a catalog whose files were `stamp`, loaded by the
    * first call that runs `rows`.
    */
  private final case class Entry(stamp: Stamp, rows: FutureTask[IndexedSeq[Row]])

  private val memo = new ConcurrentHashMap[String, Entry]()

  private def stamp(spark: SparkSession, path: String): Stamp = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Stamp =
      if (s.isDirectory) fs.listStatus(s.getPath).sortBy(_.getPath.toString).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    walk(fs.getFileStatus(root))
  }

  /** The memo's rows for `path`, loaded with `load` when the entry is
    * missing or stale.
    */
  private def cached(spark: SparkSession, path: String)(
      load: => DataFrame): IndexedSeq[Row] = {
    // listed before the load: a change during the load is seen next call
    val now = stamp(spark, path)
    val e = memo.compute(path, (_, e) =>
      if (e != null && e.stamp == now) e
      else Entry(now, new FutureTask(() => CrossMatch.collectCatalog(load))))
    e.rows.run() // returns at once when another call has run it or runs it
    try e.rows.get()
    catch {
      case x: ExecutionException =>
        memo.remove(path, e)
        throw x.getCause
    }
  }

  /** TDE list — `filter_known_tde/data/tde.parquet` (name, ra, dec),
    * fixed 5″ radius (`filter_known_tde/filter.py:36`).
    */
  def knownTde(spark: SparkSession, radiusArcsec: Double = 5.0,
      dir: String = dataDir): DataFrame =
    spark.read.parquet(tdePath(dir))
      .select(col("name"), col("ra").cast("double"),
        col("dec").cast("double"), lit(radiusArcsec).as("radius_arcsec"))

  def knownTdeRows(spark: SparkSession, dir: String = dataDir): IndexedSeq[Row] =
    cached(spark, tdePath(dir))(knownTde(spark, dir = dir))

  /** Symbiotic + cataclysmic stars — sexagesimal coordinates and a
    * per-source radius; label is "Name,source"
    * (`filter_symbiotic_stars/filter.py:96-100`).
    */
  def symbiotic(spark: SparkSession, dir: String = dataDir): DataFrame =
    spark.read.parquet(symbioticPath(dir))
      .select(
        concat(col("Name"), lit(","), col("source")).as("name"),
        Astro.hmsToDeg(col("RA(J2000)")).as("ra"),
        Astro.dmsToDeg(col("DEC(J2000)")).as("dec"),
        col("Radius").cast("double").as("radius_arcsec"))

  def symbioticRows(spark: SparkSession, dir: String = dataDir): IndexedSeq[Row] =
    cached(spark, symbioticPath(dir))(symbiotic(spark, dir))

  /** Magnetic cataclysmic variables — CSV with sexagesimal coordinates
    * and a per-source radius (`filter_magnetic_cvs/filter.py:89-119`).
    */
  def magneticCvs(spark: SparkSession, dir: String = dataDir): DataFrame =
    spark.read.option("header", "true")
      .csv(magneticCvsPath(dir))
      .select(
        col("Name").as("name"),
        Astro.hmsToDeg(col("RA(J2000)")).as("ra"),
        Astro.dmsToDeg(col("DEC(J2000)")).as("dec"),
        col("Radius").cast("double").as("radius_arcsec"))

  def magneticCvsRows(spark: SparkSession, dir: String = dataDir): IndexedSeq[Row] =
    cached(spark, magneticCvsPath(dir))(magneticCvs(spark, dir))

  /** Dwarf AGN — per-source effective radius `Re_arc`
    * (`filter_dwarf_agn/filter.py:66-94`).
    */
  def dwarfAgn(spark: SparkSession, dir: String = dataDir): DataFrame =
    spark.read.parquet(dwarfAgnPath(dir))
      .select(col("MaNGAID").as("name"), col("RA").cast("double").as("ra"),
        col("DEC").cast("double").as("dec"),
        col("Re_arc").cast("double").as("radius_arcsec"))

  def dwarfAgnRows(spark: SparkSession, dir: String = dataDir): IndexedSeq[Row] =
    cached(spark, dwarfAgnPath(dir))(dwarfAgn(spark, dir))
}
