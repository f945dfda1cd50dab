package graft

import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver's TPC-H-ish testdata layout
  * (`<dir>/<name>.parquet`). All operators take DataFrames, so these are
  * only the entry-point bindings used by SparkEntry/Bench.
  */
/** Recommended runtime tuning for graft workloads — applied to a live
  * session (all of these are runtime-settable SQL confs). At cluster scale:
  * AQE re-plans joins and coalesces shuffle partitions from runtime stats,
  * skew-join splits hot partitions, and maxPartitionBytes keeps scan tasks
  * at a size that fits executor memory alongside shuffle buffers.
  *
  * One STATIC conf belongs in the session BUILDER (it cannot be set here):
  * `spark.sql.codegen.cache.maxEntries = 5000`. The default 100-entry
  * whole-stage-codegen cache thrashes under this library's full query
  * surface (~1500 distinct codegen units), so every stage of every query
  * re-pays janino compilation on every run — measured at 0.3-1.0s per
  * query at small SF, and pure waste in any long-lived session.
  */
object GraftSession {
  def tune(spark: SparkSession, shufflePartitions: Option[Int] = None): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728") // 128 MiB
    shufflePartitions.foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n.toString))
  }
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads `<dir>/<name>.parquet` with the schema Spark's inference would
    * produce, built from the footer [[parquetFooter]] already holds:
    * `spark.read.parquet` without a schema launches a Spark job per read
    * only to read that same footer. Schema merging and a failed probe
    * keep plain inference. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val conf = spark.sessionState.conf
    parquetFooter(spark, path).footer match {
      case Some(f) if !conf.isParquetSchemaMergingEnabled =>
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          f, new ParquetToSparkSchemaConverter(conf))).parquet(path)
      case _ => spark.read.parquet(path)
    }
  }

  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * vintages, and both must normalize to a session-zone TIMESTAMP:
    *  - TIMESTAMP(NANOS): Spark's reader rejects it outright, so read
    *    nanos as long and convert with integer division (the testdata has
    *    no sub-microsecond components, so this is exact);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ, which refuses numeric casts downstream — reinterpret
    *    in the session zone (UTC everywhere in graft), which is exactly how
    *    DuckDB reads the same file for the oracle. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ -> TIMESTAMP cast below reinterprets the naive wall clock in
    // the SESSION zone, so the two vintages would yield different instants
    // under a non-UTC session (graft's own sessions all pin UTC, but this
    // loader also runs under the external driver's session, which graft
    // does not build). Force UTC before the cast is ANALYZED (the zone is
    // baked into the Cast at resolution), making both vintages and the
    // DuckDB oracle agree regardless of the caller's zone.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  /** The testdata ships every table as ONE unsplittable parquet row group,
    * so without a spread every scan stage — and all narrow work fused into
    * it — runs on a single core. Spread the CORPUS tables (heavy per-row
    * work: shingling, minhash, n-gram explosion, cosine math) to full
    * parallelism, but only when the source actually arrived under-parallel
    * (on a real cluster the input has many splits and this is a no-op).
    * The relational tables stay unspread: their per-row work is light, and
    * measurement shows the extra shuffle costs more than the parallelism
    * returns (+0.4-0.9s per query at sf0.1). */
  /** Spread a PROJECTION of the named table: under-parallelism is probed
    * from the table's parquet footer ([[parquetFooter]]), never via
    * `df.rdd` — the RDD conversion re-planned the query on every
    * invocation just to read a partition count. */
  def spread(s: SparkSession, d: String, name: String, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (parquetFooter(s, s"$d/$name.parquet").rowGroups < target) df.repartition(target) else df
  }
  /** Footer probe of a parquet source, read on the driver without a Spark
    * job: row groups (parquet's unit of scan parallelism, summed over the
    * files) for [[spread]], and the first data file's footer — the one
    * Spark's schema inference reads — for [[load]]. A file is probed as
    * itself, a directory as its `.parquet` children in name order.
    *
    * Per-path cache entries carry the root MODIFICATION TIME they were
    * probed at, so an in-session rewrite of the table re-probes instead of
    * serving a stale entry (stale entries are REPLACED, not accumulated).
    * Caveat: the probed mtime is the ROOT's (file, or directory for
    * multi-part tables) — on object stores (S3A) directory mtime is
    * synthetic or absent, so an in-session rewrite there may still serve a
    * stale entry. Deriving freshness from the max part-file mtime would
    * close it at the cost of a full listStatus per load.
    * The freshness check costs one getFileStatus per load — metadata only —
    * against `sparkContext.hadoopConfiguration` directly (building a fresh
    * SQLConf-merged Configuration per call is the expensive part, and scan
    * options don't affect a footer read). A probe FAILURE (unexpected
    * layout, permission error) logs a warning and reads as "well-split, no
    * footer": the spread repartition is skipped and [[load]] falls back to
    * inference — a perf guarantee turned off should leave a trace. */
  private final case class Probe(mtime: Long, rowGroups: Int, footer: Option[Footer])
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[String, Probe]()
  private def parquetFooter(s: SparkSession, path: String): Probe = {
    val conf = s.sparkContext.hadoopConfiguration
    val mtime =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).getFileStatus(p).getModificationTime
      } catch { case _: Exception => -1L }
    footerCache.compute(path, (p, prev) =>
      if (prev != null && prev.mtime == mtime) prev else readFooters(conf, p, mtime))
  }
  private def readFooters(conf: org.apache.hadoop.conf.Configuration, path: String,
                          mtime: Long): Probe = {
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val stat = fs.getFileStatus(p)
      val files =
        if (stat.isDirectory)
          fs.listStatus(p).toSeq.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .sortBy(_.getPath.getName)
        else Seq(stat)
      // per file: (row groups, footer without its row-group metadata)
      val probed = files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (r.getRowGroups.size, new Footer(f.getPath,
          new ParquetMetadata(r.getFileMetaData, java.util.Collections.emptyList())))
        finally r.close()
      }
      Probe(mtime, probed.map(_._1).sum, probed.headOption.map(_._2))
    } catch {
      case e: Exception =>
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"footer probe failed for $path (assuming well-split; " +
            s"spread repartition disabled, schema inferred): $e")
        Probe(mtime, Int.MaxValue, None)
    }
  }
  private def spreadLoad(s: SparkSession, d: String, name: String): DataFrame =
    spread(s, d, name, load(s, d, name))
  def documents(s: SparkSession, d: String): DataFrame = spreadLoad(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = spreadLoad(s, d, "embeddings")
}
