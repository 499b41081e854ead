package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Extract

/** The reference pipeline (SURVEY §3) re-expressed Spark-first:
  * ingest→dedup (scraper.py:211-218), whose anti-join against landed
  * keys stands in for the incremental discovery of etl_process.py:297-301
  * (the streaming path re-checks each batch in `EtlStream`), the
  * 13-field clean projection (:203-224), broadcast dim enrichment with
  * inner-join/quarantine semantics (:320-335), and the optional conform
  * maintenance job (:227-241).
  *
  * Scale notes: dedup is one shuffle on uniq_id; enrichment broadcasts
  * the ≤479-row dim so the fact side never shuffles; quarantine is the
  * anti-join complement (durable, unlike the reference's process-local
  * `cannot_load` set); conform is two filters/semi-joins, no wide ops.
  */
object Pipeline {

  /** The scraper's JSON envelope (scraper.py:97-100,205). */
  val rawAdSchema: StructType = StructType(Seq(
    StructField("scrape_date", StringType),
    StructField("code", IntegerType),
    StructField("url", StringType),
    StructField("read", StringType),
    StructField("uniq_id", StringType)))

  /** backpage_raw reader: one JSON envelope per line/row. */
  def parseRaw(envelopes: DataFrame, jsonCol: String = "value"): DataFrame =
    envelopes.select(from_json(col(jsonCol), rawAdSchema).as("ad"))
      .select("ad.*")

  /** Dedup-before-write replaces the reference's insert-and-catch on the
    * UNIQUE constraint: drop in-batch dups, then anti-join out rows whose
    * uniq_id already landed (idempotent re-ingest).
    */
  def dedupIngest(newRaw: DataFrame, existingRaw: Option[DataFrame]): DataFrame = {
    val deduped = newRaw.dropDuplicates("uniq_id")
    existingRaw match {
      case Some(ex) => deduped.join(ex.select("uniq_id"), Seq("uniq_id"), "left_anti")
      case None     => deduped
    }
  }

  /** `clean_data` (etl_process.py:203-224): raw envelope → the 13-field
    * projection, one `select` of the §2.6 expression library. All fields
    * stay strings with the `""` failure sentinel, mirroring clean_line.
    */
  def cleanData(raw: DataFrame): DataFrame = {
    val html = col("read")
    raw.select(
      Extract.adId(col("url")).as("ad_id"),
      col("url").as("ad_url"),
      Extract.category(col("url")).as("category"),
      Extract.locations(html).as("locations"),
      array_join(array_sort(Extract.otherAdsHrefs(html)), ";").as("other_ads"),
      Extract.phoneNumber(Extract.postingBodyText(html)).as("phone"),
      Extract.postBody(html).as("post_body"),
      Extract.postDate(Extract.adInfoText(html)).as("post_date"),
      Extract.posterAge(html).as("poster_age"),
      Extract.postTitle(html).as("post_title"),
      col("scrape_date"),
      Extract.siteId(col("url")).as("site_id"),
      col("uniq_id"))
  }

  /** URLs.csv dimension (etl_process.py:185-200), normalized column
    * names; exact header `Backpage ID,City,State,Region,Division,URL`. */
  def siteDim(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(
        col("Backpage ID").as("site_id"), col("City").as("city"),
        col("State").as("state"), col("Region").as("region"),
        col("Division").as("division"))

  /** Enrichment result: warehouse rows + quarantined rows. */
  final case class Enriched(warehouse: DataFrame, quarantine: DataFrame)

  /** Broadcast inner join on site_id (etl_process.py:320-323). The
    * reference's KeyError→bare-except (:332-335) silently drops unmatched
    * rows into an in-memory set; here the quarantine is the explicit
    * anti-join complement — durable and auditable. Rows whose post_date
    * failed to parse also quarantine (the reference's '' → TIMESTAMP
    * insert failure lands in the same except).
    */
  def enrich(clean: DataFrame, dim: DataFrame): Enriched = {
    val parsed = clean
      .withColumn("post_date_ts", try_to_timestamp(col("post_date"), lit("yyyy-MM-dd HH:mm:ss")))
      .withColumn("scrape_date_ts", try_to_timestamp(col("scrape_date"), lit("yyyy-MM-dd HH:mm:ss")))
    val ok = parsed.filter(col("post_date_ts").isNotNull)
      .join(broadcast(dim), Seq("site_id"), "inner")
      .select(
        col("ad_id"), col("ad_url"), col("category"), col("city"),
        col("division"), col("locations"), col("other_ads"), col("phone"),
        col("post_body"), col("post_date_ts").as("post_date"),
        col("post_title"), col("poster_age"), col("region"),
        col("scrape_date_ts").as("scrape_date"), col("site_id"),
        col("state"), col("uniq_id"))
    val bad = parsed.filter(col("post_date_ts").isNull)
      .unionByName(parsed.filter(col("post_date_ts").isNotNull)
        .join(broadcast(dim), Seq("site_id"), "left_anti"))
      .drop("post_date_ts", "scrape_date_ts")
    Enriched(ok, bad)
  }

  /** `conform_dbs` (etl_process.py:227-241), as an optional maintenance
    * job (its invocation is commented out in the reference — SURVEY
    * §3.3): (1) drop warehouse rows posted before collection began
    * (scalar-subquery temporal filter); (2) keep only rows still present
    * in raw (left_semi ≡ the NOT-IN delete, keys NOT NULL).
    */
  def conform(warehouse: DataFrame, raw: DataFrame): DataFrame = {
    val minScrape = warehouse.agg(min(col("scrape_date")).as("min_scrape"))
    warehouse
      .join(broadcast(minScrape))
      .filter(col("post_date") >= col("min_scrape"))
      .drop("min_scrape")
      .join(raw.select("uniq_id"), Seq("uniq_id"), "left_semi")
  }
}
