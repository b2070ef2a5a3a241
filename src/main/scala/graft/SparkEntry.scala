package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The index of every declared query. Each [[queries.QuerySpec]] keeps
  * a query's Spark build and its DuckDB oracle in one entry; the
  * entries live in one object per area under `graft/queries/`, and
  * adding a query is one entry there.
  */
object SparkEntry {

  /** Every declared query, area by area. */
  lazy val registry: Seq[QuerySpec] = index(Seq(Wrangling.specs,
    TextCuration.specs, Vectors.specs, Media.specs, Formats.specs,
    Lakehouse.specs))

  /** Concatenates area lists. A name declared twice throws: a map
    * literal would silently keep the last of two equal keys. */
  private[graft] def index(areas: Seq[Seq[QuerySpec]]): Seq[QuerySpec] = {
    val all = areas.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** The named queries in the given order; an unknown name throws. */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val byName = registry.map(q => q.name -> q).toMap
    checked(names, registry.map(_.name)).map(byName)
  }

  /** `names`, unchanged, once each is one of `known`: an unknown name
    * throws, so a typo cannot select nothing and exit 0. */
  def checked(names: Seq[String], known: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(known.toSet)
    require(unknown.isEmpty, s"unknown name: ${unknown.mkString(", ")}")
    names
  }

  /** A comma-separated name list, as the mains take one. */
  def names(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
}
