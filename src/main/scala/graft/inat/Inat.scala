package graft.inat

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.MergeUpsert

/** The iNaturalist bulk pipeline (SURVEY.md §3.2) as one pure DataFrame
  * program — the reference runs it as ~2,400 lines of staged Postgres
  * SQL in 2M-row batches with a 39-minute-per-batch ceiling
  * (`catalog/dags/providers/provider_csv_load_scripts/inaturalist/`
  * SQL files, `inaturalist.py:364-458`); here the whole dataset is one
  * plan:
  * no batching (Spark partitions the 120M-photo scan), the taxonomy
  * ancestor expansion is an explode + hash join instead of a
  * nested-loop `= ANY(string_to_array(...))`, and the dims broadcast.
  */
object Inat {

  /** Source TSV-in-CSV readers (gzipped, header, tab separator, \b
    * quote — photos.sql:33-38 import options).
    */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val table = schemas.keys.find(path.contains(_)).getOrElse(
      throw new IllegalArgumentException(s"no known iNat table in $path"))
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("quote", "")
      .schema(schemas(table))
      .csv(path)
  }

  /** Explicit source schemas (photos.sql:18-27, observations.sql:14-23,
    * observers.sql:12-16, taxa DDL) — inferSchema would be a second full
    * scan of the 120M-row photos CSV at production scale. uuid/date
    * columns read as string (uuids are opaque join keys here).
    */
  val schemas: Map[String, StructType] = Map(
    "photos" -> StructType(Seq(
      StructField("photo_uuid", StringType),
      StructField("photo_id", IntegerType),
      StructField("observation_uuid", StringType),
      StructField("observer_id", IntegerType),
      StructField("extension", StringType),
      StructField("license", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("position", IntegerType))),
    "observations" -> StructType(Seq(
      StructField("observation_uuid", StringType),
      StructField("observer_id", IntegerType),
      StructField("latitude", DecimalType(15, 10)),
      StructField("longitude", DecimalType(15, 10)),
      StructField("positional_accuracy", IntegerType),
      StructField("taxon_id", IntegerType),
      StructField("quality_grade", StringType),
      StructField("observed_on", DateType))),
    "observers" -> StructType(Seq(
      StructField("observer_id", IntegerType),
      StructField("login", StringType),
      StructField("name", StringType))),
    "taxa" -> StructType(Seq(
      StructField("taxon_id", IntegerType),
      StructField("ancestry", StringType),
      StructField("rank_level", DoubleType),
      StructField("rank", StringType),
      StructField("name", StringType),
      StructField("active", BooleanType))))

  /** License code → (license, version)
    * (`inaturalist/create_schema.sql` license_codes seed; iNat exposes
    * the standard CC 4.0 suite plus CC0/PDM).
    */
  val licenseCodes: Map[String, (String, String)] = Map(
    "CC0" -> ("cc0", "1.0"), "CC-BY" -> ("by", "4.0"),
    "CC-BY-NC" -> ("by-nc", "4.0"), "CC-BY-ND" -> ("by-nd", "4.0"),
    "CC-BY-SA" -> ("by-sa", "4.0"), "CC-BY-NC-ND" -> ("by-nc-nd", "4.0"),
    "CC-BY-NC-SA" -> ("by-nc-sa", "4.0"), "PD" -> ("pdm", "1.0"),
    "GFDL" -> ("gfdl", "1.3"))

  /** A8 — photo ids appearing more than once (photos.sql:41-48). */
  def photoDupes(photos: DataFrame): DataFrame =
    photos.groupBy("photo_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("photo_id")

  /** J5 — taxa enriched with their ancestors' names as tags: explode
    * the slash-separated ancestry into ids, hash-join back to taxa,
    * collect ancestor names (root-first by path position), cap at 20
    * (taxa.sql:222-256 without the Catalog-of-Life vernacular sources).
    *
    * One row per taxa row. The per-taxon aggregation also carries each
    * taxa row's own columns (tagged with a row id, so identical rows
    * stay separate), which replaces a second join of its result back
    * to taxa. Rows that share a taxon_id share one tag list, gathered
    * from all their ancestries; a null taxon_id gets no tags; an
    * ancestor id missing from taxa is skipped.
    */
  def taxaEnriched(taxa: DataFrame): DataFrame = {
    val names = taxa.select(col("taxon_id").as("anc_id"),
      col("name").as("anc_name"), lit(true).as("__hit"))
    val ancestor = when(col("__hit") && col("taxon_id").isNotNull,
      struct(col("pos"), col("anc_name")))
    // the row id is assigned before the explode multiplies the row
    taxa
      .withColumn("__row", struct(monotonically_increasing_id().as("row"),
        col("name").as("title"), col("rank")))
      .select(col("taxon_id"), col("__row"),
        posexplode_outer(split(col("ancestry"), "/")).as(Seq("pos", "anc_id")))
      .withColumn("anc_id", col("anc_id").cast("int"))
      .join(names, Seq("anc_id"), "left")
      .groupBy("taxon_id")
      .agg(collect_set(col("__row")).as("__rows"),
        slice(array_sort(collect_list(ancestor)).getField("anc_name"), 1, 20)
          .as("ancestor_tags"))
      .select(col("taxon_id"), explode(col("__rows")).as("__row"),
        col("ancestor_tags"))
      .select(col("taxon_id"), col("__row.title").as("title"),
        col("__row.rank").as("rank"), col("ancestor_tags"))
  }

  /** The transformed-table star join (transformed_table.template.sql:
    * 17-77): photos ⋈ observations ⋈ observers ⋈ enriched taxa, minus
    * duplicate photo_ids and unknown license codes, plus URL/creator
    * synthesis (P25) — emitting catalog-shaped records.
    *
    * Duplicate photo_ids are dropped by one window count over photos
    * (the [[photoDupes]] aggregate plus anti-join in a single shuffle).
    * A null photo_id never equals a dupe id in that anti-join, so null
    * ids are kept however often they occur. The license dim is a
    * literal-map lookup; a code missing from it drops the row, as the
    * inner join to the dim did. Enriched taxa are a dimension (one row
    * per taxon) and are broadcast like the observers: left to AQE, the
    * join's strategy, and with it the job count, depended on which
    * side's shuffle finished first.
    */
  def transform(photos: DataFrame, observations: DataFrame,
      observers: DataFrame, taxa: DataFrame): DataFrame = {
    val license = element_at(typedLit(licenseCodes), col("license"))
    val deduped = photos                                 // J2
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("photo_id")))
      .filter(col("__n") === 1 || col("photo_id").isNull)
      .withColumn("__license", license)
      .filter(col("__license").isNotNull)
    deduped
      .join(observations, Seq("observation_uuid"))
      .join(broadcast(observers), Seq("observer_id"))
      .join(broadcast(taxaEnriched(taxa)), Seq("taxon_id"))
      .select(
        col("photo_id").cast("string").as("foreign_identifier"),
        concat(lit("https://www.inaturalist.org/photos/"), col("photo_id"))
          .as("foreign_landing_url"),
        concat(lit("https://inaturalist-open-data.s3.amazonaws.com/photos/"),
          col("photo_id"), lit("/original."),
          when(lower(col("extension")) === "jpeg", "jpg")
            .otherwise(lower(col("extension")))).as("url"),
        coalesce(col("name"), col("login")).as("creator"),
        col("title"), col("ancestor_tags").as("tags"),
        col("__license._1").as("license"),
        col("__license._2").as("license_version"),
        col("width").cast("int").as("width"),
        col("height").cast("int").as("height"),
        col("quality_grade"),
        lit("inaturalist").as("provider"))
  }
}
