package graft.filters

import org.apache.spark.sql.{Column, DataFrame}

/** One boolean predicate over an alert DataFrame — the engine's core
  * abstraction, mirroring the reference's execution contract (alert
  * DataFrame in → boolean mask → `df.filter(mask)` → reduced DataFrame
  * out; see `apply_user_defined_filter` usage at
  * `fink_filters/ztf/livestream/filter_sn_candidates/filter.py:125-130`).
  *
  * Where the reference binds a pandas UDF's parameter names to column names
  * and ships batches to Python workers over Arrow, an [[AlertFilter]] is a
  * pure Catalyst `Column` builder: no process boundary, no serialization,
  * whole-stage codegen end to end. A filter is a value: a variant of one
  * (another name, another stage) is a `copy` of it.
  *
  * @param name registry key, e.g. "ztf.livestream.sn_candidates"
  * @param description human description (the reference's Rubin modules
  *   export a DESCRIPTION constant — `filter_uniform_sample/filter.py:19-20`)
  * @param requiredColumns top-level / dotted-path columns the filter reads
  *   (the binding pre-flight of [[graft.schema.AlertSchemas]]; Catalyst
  *   prunes automatically)
  * @param archiveSupport whether passing alerts should be persisted to the
  *   archive store — metadata parity with the reference's per-module
  *   HBASE_SUPPORT constant (`filter_uniform_sample/filter.py:20`)
  * @param mask the boolean mask. Takes the DataFrame so filters that need
  *   the input's schema can read it; pure predicates ignore the argument
  * @param stage for filters the mask alone cannot express (an image
  *   stage, a catalog join, a fit stage): the whole application, which
  *   then runs in place of `df.filter(mask(df))`
  */
final case class AlertFilter(
    name: String,
    description: String,
    requiredColumns: Seq[String],
    archiveSupport: Boolean = true,
    mask: DataFrame => Column,
    stage: Option[DataFrame => DataFrame] = None) {

  /** Apply: identical semantics to the reference's
    * `df.filter(udf(*cols))`, or the stage where there is one.
    */
  def apply(df: DataFrame): DataFrame =
    stage.fold(df.filter(mask(df)))(_(df))
}

/** String-keyed filter registry — the engine analog of the reference's
  * "dotted module path → function" dispatch (importlib-based, see
  * `fink_utils` `apply_user_defined_filter`). Config files can keep
  * addressing filters by name.
  *
  * The catalog is an immutable map built once from each filter module's
  * list; a repeated name fails its construction. Ad-hoc SQL filters
  * ([[registerSql]]) live in a small map beside it and cannot shadow a
  * catalog name.
  */
object FilterRegistry {
  import graft.filters.ztf._

  /** Every catalog filter by name. */
  val all: Map[String, AlertFilter] = {
    val filters = ZtfFilters.all ++ ZtfHistoryFilters.all ++
      ZtfPhotometryFilters.all ++ ZtfHostlessFilters.all ++ MmFilters.all ++
      ZtfXmatchFilters.all ++ Seq(EarlyKnFilter.registryDefault,
        EarlyTdeScorer.registryEntry, graft.classify.Classify.unknowns) ++
      graft.filters.rubin.RubinFilters.all
    val repeated = filters.groupBy(_.name).collect {
      case (n, fs) if fs.size > 1 => n
    }
    require(repeated.isEmpty,
      s"filter catalog names ${repeated.toSeq.sorted.mkString(", ")} more than once")
    filters.map(f => f.name -> f).toMap
  }

  @volatile private var adHoc: Map[String, AlertFilter] = Map.empty

  /** Register a raw Spark-SQL predicate under a name — the engine analog
    * of the reference's SQL-string filters (O4:
    * `df_proc.filter("dec <= 20 AND …")`, user `custom_filter` —
    * `filter_anomaly_notification/filter.py:161-166`). Broker configs
    * can ship ad-hoc predicates without code. Registering a name again
    * replaces its predicate; a catalog name is refused.
    */
  def registerSql(filterName: String, sqlPredicate: String,
      desc: String = ""): AlertFilter = {
    require(!all.contains(filterName),
      s"'$filterName' names a catalog filter; an SQL filter cannot replace it")
    val f = AlertFilter(filterName,
      if (desc.nonEmpty) desc else s"SQL filter: $sqlPredicate", Seq.empty,
      mask = _ => org.apache.spark.sql.functions.expr(sqlPredicate))
    synchronized { adHoc += filterName -> f }
    f
  }

  def get(name: String): AlertFilter =
    all.getOrElse(name, adHoc.getOrElse(name,
      throw new NoSuchElementException(s"unknown filter '$name'; known: " +
        (all.keys ++ adHoc.keys).toSeq.sorted.mkString(", "))))

  /** `apply_user_defined_filter(df, name)` equivalent. */
  def applyFilter(df: DataFrame, name: String): DataFrame = get(name)(df)
}
