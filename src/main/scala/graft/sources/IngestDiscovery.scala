package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Input discovery and staged reading.
  *
  * Re-expresses the reference's CSV auto-discovery
  * (etl/discovery/csv_discovery.py:16-50: glob the data dir, infer entity
  * type from the filename stem, assign a staging target) and the staged
  * reader's metadata contract (STEP2_RAW_CONSUMER.py: each raw-zone row
  * carries `_source`, `_extract_time`, `_run_id`).
  *
  * Discovery is metadata work (file listings), so it runs on the driver; the
  * data path stays fully distributed (`spark.read` on the discovered files).
  */
object IngestDiscovery {

  // Known stem → entity mappings (csv_discovery.py:55-75's explicit table),
  // covering both the reference's Vietnamese names and this repo's testdata.
  private val KnownEntities = Map(
    "khachhang" -> "khach_hang", "khach_hang" -> "khach_hang",
    "nguyenlieu" -> "nguyen_lieu", "nguyen_lieu" -> "nguyen_lieu",
    "loaisanpham" -> "loai_mon", "loai_mon" -> "loai_mon",
    "tensanpham" -> "mon", "mon" -> "mon",
    "dathang" -> "dat_hang", "dat_hang" -> "dat_hang",
    "lineitem" -> "line_item", "orders" -> "order", "customer" -> "customer",
    "supplier" -> "supplier", "part" -> "part", "nation" -> "nation",
    "region" -> "region", "events" -> "event", "documents" -> "document",
    "embeddings" -> "embedding")

  /** Infer an entity type from a file stem (csv_discovery.py:52-78): strip
    * `_tbl`/`_data` suffixes, look up known names, else pass through. */
  def inferEntityType(stem: String): String = {
    val base = stem.toLowerCase
      .stripSuffix("_tbl").stripSuffix("_data")
      .replaceAll("_[0-9]{8}_[0-9]{6}$", "") // run-id suffix, STEP3:83-90
    KnownEntities.getOrElse(base, base)
  }

  /** Discover ingestable files in a directory (parquet/csv), with inferred
    * entity types and staging targets. Deterministic: sorted by file name. */
  def discover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && (f.getName.endsWith(".parquet") || f.getName.endsWith(".csv")))
      .map { f =>
        val stem = f.getName.replaceAll("\\.(parquet|csv)$", "")
        val fmt = if (f.getName.endsWith(".parquet")) "parquet" else "csv"
        (f.getName, inferEntityType(stem), fmt, s"staging.${inferEntityType(stem)}_tbl")
      }
      .sortBy(_._1).toSeq
    files.toDF("file_name", "entity_type", "format", "staging_table")
  }

  /** Read a CSV with the reference reader's options (header, UTF-8 with BOM
    * tolerance, explicit schema — csv_staging_reader.py). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** Write a DataFrame into a zone directory (`<root>/<zone>/<entity>`) in
    * the given format — the clean/error/raw zone layout
    * (STEP3_QUALITY_ENGINE.py writes staging/clean and staging/error). */
  def writeZone(df: DataFrame, zoneRoot: String, zone: String, entity: String,
                format: String = "parquet"): String = {
    val path = s"$zoneRoot/$zone/$entity"
    val w = df.write.mode("overwrite")
    format match {
      case "csv" => w.option("header", "true").csv(path)
      case "json" => w.json(path)
      case "orc" => w.orc(path)
      case _ => w.parquet(path)
    }
    path
  }

  /** Re-read a parquet zone (`<root>/<zone>/<entity>`) that `written` was
    * just written to, with the writer's schema instead of an inferred one:
    * `spark.read.parquet` without a schema launches a footer-reading Spark
    * job per read only to rediscover a schema the caller already holds.
    * Spark makes a file relation's data schema nullable either way, so the
    * result's schema equals the inferred one. `partitionedBy` names the
    * writer's `partitionBy` columns; like inference, they come last. */
  def readZone(written: DataFrame, zoneRoot: String, zone: String, entity: String,
               partitionedBy: Seq[String] = Nil): DataFrame = {
    val s = written.schema
    val schema = StructType(
      s.fields.filterNot(f => partitionedBy.contains(f.name)) ++ partitionedBy.map(s(_)))
    written.sparkSession.read.schema(schema).parquet(s"$zoneRoot/$zone/$entity")
  }

  /** Attach the raw-zone metadata columns (STEP2_RAW_CONSUMER.py's
    * `_source/_extract_time/_run_id`). `extractTime` is supplied by the
    * caller so reruns are reproducible (the reference stamps now()). */
  def staged(df: DataFrame, source: String, runId: String, extractTime: String): DataFrame =
    df.select(df.columns.toIndexedSeq.map(col) :+
      lit(source).as("_source") :+
      lit(runId).as("_run_id") :+
      to_timestamp(lit(extractTime)).as("_extract_time"): _*)
}
