package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps

import graft.operators.{Quality, Star}
import graft.sources.IngestDiscovery

/** End-to-end pipeline orchestrator — the Spark re-expression of the
  * reference's top-level entry point (RUN_ALL_STEPS.py: producer → raw
  * consumer → quality engine → transform & load, with per-step timing and a
  * run report; PIPELINE_DIRECT_LOAD.py is the broker-less variant this
  * mirrors).
  *
  * Stages:
  *  1. `stage_raw`   — read the sources, attach staged metadata
  *     (`_source/_run_id/_extract_time`), write the raw zone.
  *  2. `quality`     — rule-engine split; clean and error zones written
  *     (error rows carry `_errors` reasons).
  *  3. `transform_load` — the DWH build over the CLEAN zone: the SCD2
  *     customer dimension over all staged snapshots (create_dwh_tables
  *     .sql:21-41 — valid_from/valid_to/is_current with per-version
  *     surrogate keys), dim_date (:108-125), then star facts with
  *     broadcast dim lookups against the is_current slice: fact_orders
  *     (order grain) AND fact_lineitem (line grain, customer+part dims)
  *     — the reference's two-fact DWH shape (create_dwh_tables
  *     .sql:127-163) — both written partitioned by date_key.
  *  4. `report`      — per-zone stats and per-rule violation counts written
  *     under `report/` (dashboard.py:30-40's data source, as a sink).
  *
  * Each stage re-reads its predecessor's zone files, with the schema of
  * the DataFrame that wrote them ([[IngestDiscovery.readZone]]) — no
  * schema-inference job per read. Stage and layout-hint row counts come
  * from `observe()` metrics on the writes, never from a read-back count.
  *
  * Returns the run report as a DataFrame: (stage, rows, seconds) — the
  * reference's step_times/step_results table.
  */
object Pipeline {

  final case class StageReport(stage: String, rows: Long, seconds: Double)

  /** Run independent Spark ACTIONS (zone writes to disjoint paths)
    * concurrently from driver threads — the optimization-guide §2.6
    * overlap: Spark's FIFO scheduler backfills executors freed by one
    * job's task tail with the next job's tasks, so two ~N-task writes
    * cost ~max instead of sum. Exceptions propagate (first one rethrown);
    * outputs are unchanged because the actions touch disjoint paths. */
  private[graft] def inParallel(tasks: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      val th = new Thread(() => try t() catch { case e: Throwable => errs.add(e) })
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) {
      // rethrow the first failure with any concurrent ones attached, so a
      // double zone-write failure keeps both diagnostics (ADVICE r19)
      val first = errs.poll()
      var next = errs.poll()
      while (next != null) { first.addSuppressed(next); next = errs.poll() }
      throw first
    }
  }

  /** Rows a just-finished write produced, from its `df.observe(obs, count)`
    * metric — the production write-metrics pattern (r19 Finding 2): never
    * re-read/re-list a freshly written zone just to count it. The metric
    * arrives with an ASYNC execution-listener event, so the wait on the
    * observation's future is bounded ([[Ckpt.observed]]) and a lost event
    * degrades to the honest read-back count. */
  private[graft] def writtenRows(spark: SparkSession,
                                 obs: org.apache.spark.sql.Observation,
                                 path: String): Long =
    Ckpt.observed(obs).map(_.getAs[Long]("n"))
      .getOrElse(spark.read.parquet(path).count())

  def runAll(spark: SparkSession, sfDir: String, outRoot: String,
             runId: String, extractTime: String = "2026-01-01 00:00:00"): DataFrame = {
    import spark.implicits._
    var reports = Vector.empty[StageReport]
    def timed(stage: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val rows = body
      reports :+= StageReport(stage, rows, (System.nanoTime() - t0) / 1e9)
      rows
    }
    def observed(df: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame =
      df.observe(obs, count(lit(1)).as("n"))

    // 1. stage raw: sources -> raw zone with staged metadata. Customer is
    // staged too and written partitioned by _run_id with DYNAMIC partition
    // overwrite: each run replaces only its own partition, so repeated runs
    // ACCUMULATE snapshot history — the incremental staging-load shape that
    // feeds the SCD2 dimension (re-running a run id is idempotent).
    // source reads ride Tables.spread (no-op on well-split sources): the
    // testdata tables ship as 1-3 row groups, so an unspread staged write
    // runs 3 tasks (measured 1.0 s for orders alone) AND leaves a 3-file
    // raw zone that under-parallelizes every downstream zone read — one
    // cheap shuffle of the staged rows buys full-width encode + scans
    val orders = IngestDiscovery.staged(
      Tables.spread(spark, sfDir, "orders", Tables.orders(spark, sfDir)),
      "parquet", runId, extractTime)
    val customer = IngestDiscovery.staged(
      Tables.spread(spark, sfDir, "customer", Tables.customer(spark, sfDir)),
      "parquet", runId, extractTime)
    val lineitem = IngestDiscovery.staged(
      Tables.spread(spark, sfDir, "lineitem", Tables.lineitem(spark, sfDir)),
      "parquet", runId, extractTime)
    // raw lineitem rows, observed on its write: fact_lineitem's layout hint
    val obsLine = org.apache.spark.sql.Observation("raw_lineitem_rows")
    timed("stage_raw") {
      // three disjoint zone writes — overlapped (guide §2.6): the next
      // write's tasks backfill executors freed by the previous one's tail.
      // The reported row count comes from the write's own observe() metric
      // (r19 Finding 2 applied to every stage count): identical by
      // construction to a re-read count, minus the re-list/footer job.
      val obsR = org.apache.spark.sql.Observation("stage_raw_rows")
      inParallel(
        () => IngestDiscovery.writeZone(observed(orders, obsR), outRoot, "raw", "orders"),
        // CAVEAT (ADVICE r19): dynamic overwrite + the v2 committer means a
        // run that dies MID-JOB can leave task-committed files for _run_id
        // partitions a later run doesn't rewrite. The rerun contract is
        // per-run-id idempotence (rerunning the SAME run_id replaces its
        // partition); operational recovery from a known-aborted run is to
        // clear that run's _run_id partition before rerunning.
        () => customer.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_run_id")
          .parquet(s"$outRoot/raw/customer"),
        () => IngestDiscovery.writeZone(observed(lineitem, obsLine), outRoot, "raw", "lineitem"))
      Pipeline.writtenRows(spark, obsR, s"$outRoot/raw/orders")
    }

    // 2. quality: rule engine over the raw zone -> clean/error zones
    val annotated = {
      val raw = IngestDiscovery.readZone(orders, outRoot, "raw", "orders")
      val (addRn, dupRule) = Quality.duplicateKeyRule("duplicate_key",
        col("o_orderkey"), Seq(col("_run_id")))
      val (addFk, fkRule) = Quality.fkRule("fk_customer", col("o_custkey"),
        customer, "c_custkey")
      val rules = Seq(
        Quality.Rule("null_custkey", col("o_custkey").isNull),
        fkRule,
        Quality.Rule("nonpositive_price", col("o_totalprice") <= 0),
        dupRule)
      Quality.annotate(addFk(addRn(raw)), rules)
        .drop("_rn_duplicate_key", "_fk_ok_fk_customer")
        // clean and error zones both consume the annotated table:
        // localCheckpoint runs the rule engine (window + FK broadcast)
        // once instead of once per zone write
        .ckptLocalLazy()
    }
    val cleanOrders = Quality.cleanZone(annotated)
    val errorOrders = Quality.errorZone(annotated)
    val cleanRows = timed("quality") {
      // disjoint zone writes — overlapped (guide §2.6). Both first actions
      // over the LAZY checkpoint run concurrently: each checkpoint block is
      // computed by whichever task reaches it first and read by the other
      // (the block manager's per-block write lock), so the rule engine
      // still runs once.
      val obsC = org.apache.spark.sql.Observation("clean_rows")
      inParallel(
        () => IngestDiscovery.writeZone(observed(cleanOrders, obsC), outRoot, "clean", "orders"),
        () => IngestDiscovery.writeZone(errorOrders, outRoot, "error", "orders"))
      Pipeline.writtenRows(spark, obsC, s"$outRoot/clean/orders")
    }

    // 3. transform & load: both star facts over the clean zone (order grain
    // + line grain — the reference's two-fact DWH), partitioned by date_key.
    // Fact row counts are captured FROM the write itself (observe() metrics
    // on the written plan — the production write-metrics pattern) instead
    // of re-reading the freshly written date-partitioned dirs: a count-back
    // re-listed ~2,400 partition dirs per fact (one listing task per dir)
    // and re-read every footer, 2×5 s at sf0.1 and O(files) at any scale,
    // for a number the write already knows. Fallback stays the honest
    // read-back count in case an observation event is ever dropped.
    def writtenRows(obs: org.apache.spark.sql.Observation, path: String): Long =
      Pipeline.writtenRows(spark, obs, path)
    timed("transform_load") {
      val clean = IngestDiscovery.readZone(cleanOrders, outRoot, "clean", "orders")

      // dim_customer is the SCD2 dimension over ALL staged snapshots
      // (reference create_dwh_tables.sql:21-41 — dim_khach_hang IS the
      // SCD2 dim): unchanged snapshots are dropped, each surviving version
      // gets its own surrogate key (IDENTITY analog: two-phase rank over
      // the (key, valid_from) composite), and validity is a lead() chain.
      val scdAttrs = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val custSnaps = IngestDiscovery.readZone(customer, outRoot, "raw", "customer",
          partitionedBy = Seq("_run_id"))
        .select(col("c_custkey") +: scdAttrs.map(col) :+ col("_extract_time").as("_snap"): _*)
      val dimCust = {
        // dimension-sized: localCheckpoint materializes the SCD2 window
        // chain once — withSurrogateKey consumes `versions` three times
        // (pivot sample, bucket counts, the ranked write)
        val versions = Star.scd2(custSnaps, "c_custkey", scdAttrs, "_snap")
          .withColumn("_vk", concat_ws("|", col("c_custkey"),
            date_format(col("valid_from"), "yyyyMMddHHmmss")))
          .ckptLocal()
        Star.withSurrogateKey(versions, "_vk", "customer_key").drop("_vk")
      }
      // dim_date over the clean fact's date domain
      // (create_dwh_tables.sql:108-125); its observed row count is the
      // date-domain size the fact layout hints divide by
      val dimDate = Star.dimDate(clean, "o_orderdate")
      val obsD = org.apache.spark.sql.Observation("dim_date_rows")
      // the two dim writes touch disjoint paths — overlapped (guide §2.6);
      // dim_customer must be fully written before dimC re-reads it below,
      // which inParallel's join guarantees
      inParallel(
        () => IngestDiscovery.writeZone(dimCust, outRoot, "dwh", "dim_customer"),
        () => IngestDiscovery.writeZone(observed(dimDate, obsD), outRoot, "dwh", "dim_date"))

      // Fact lookups resolve against the CURRENT version slice of the SCD2
      // dim — a fact loaded today points at today's version of the customer.
      val dimC = IngestDiscovery.readZone(dimCust, outRoot, "dwh", "dim_customer")
        .where(col("is_current")).select(col("c_custkey"), col("customer_key"))
      val dateKey = (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
        dayofmonth(col("o_orderdate"))).as("date_key")
      // ordersKeyed feeds BOTH facts (order grain directly, line grain via
      // the o_orderkey join): localCheckpoint materializes the dim-resolved
      // rows once, so the second fact neither re-scans the clean zone nor
      // re-runs the broadcast lookup — and the checkpoint's exact size lets
      // the planner pick the line-grain join strategy from real stats.
      val ordersKeyed = Star.lookupDim(
        clean.withColumnRenamed("o_custkey", "c_custkey"), dimC, "c_custkey", "customer_key")
        .ckptLocal()
      val factOrders = ordersKeyed
        .select(col("o_orderkey"), col("customer_key"), dateKey,
          col("o_totalprice"), col("o_orderstatus"))
      val dimP = Star.withSurrogateKey(
        Tables.part(spark, sfDir).select(col("p_partkey")), "p_partkey", "part_key")
      val line = IngestDiscovery.readZone(lineitem, outRoot, "raw", "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_partkey").as("p_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(ordersKeyed.select(col("o_orderkey"), col("customer_key"), col("o_orderdate")),
          Seq("o_orderkey"))
      val factLine = Star.lookupDim(line, dimP, "p_partkey", "part_key")
        .select(col("o_orderkey").as("l_orderkey"), col("l_linenumber"),
          col("customer_key"), col("part_key"), dateKey,
          col("l_quantity").as("quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      // the two fact writes are mutually independent (both consume the
      // materialized ordersKeyed checkpoint and written dims) and write
      // disjoint paths — overlapped (guide §2.6): ~max of the two
      // partitioned-write tails instead of their sum
      val obsO = org.apache.spark.sql.Observation("fact_orders_rows")
      val obsL = org.apache.spark.sql.Observation("fact_lineitem_rows")
      // Layout-granularity hints (guide §6, see writeFactPartitioned), all
      // from observations of writes that already ran — no new pass:
      // fact_orders is clean-grain (the quality stage's rows); the raw
      // lineitem count is an UPPER BOUND of fact_lineitem's grain (lines of
      // error-zone orders drop out in the ordersKeyed join), which can only
      // err toward the day-dir layout near the threshold; the date-domain
      // size is dim_date's row count. The layout is chosen from DATA,
      // never from the core count.
      val days = math.max(1L, writtenRows(obsD, s"$outRoot/dwh/dim_date"))
      val lineRows = writtenRows(obsLine, s"$outRoot/raw/lineitem")
      inParallel(
        () => Star.writeFactPartitioned(observed(factOrders, obsO),
          s"$outRoot/dwh/fact_orders", "date_key", "o_orderkey",
          cleanRows.toDouble / days),
        () => Star.writeFactPartitioned(observed(factLine, obsL),
          s"$outRoot/dwh/fact_lineitem", "date_key", "l_orderkey",
          lineRows.toDouble / days))
      writtenRows(obsO, s"$outRoot/dwh/fact_orders") +
        writtenRows(obsL, s"$outRoot/dwh/fact_lineitem")
    }

    // 4. report: per-zone stats + per-rule violations (the dashboard's
    // feed), derived from the zones ALREADY WRITTEN in stage 2 — the rule
    // engine (raw scan + FK broadcast join + duplicate-key window) must not
    // re-run per report query.
    timed("report") {
      val cleanZ = IngestDiscovery.readZone(cleanOrders, outRoot, "clean", "orders")
        .withColumn("_errors", lit(""))
      val errorZ = IngestDiscovery.readZone(errorOrders, outRoot, "error", "orders")
      val zones = cleanZ.select(col("o_orderkey"), col("_errors"))
        .unionByName(errorZ.select(col("o_orderkey"), col("_errors")))
      val obsZ = org.apache.spark.sql.Observation("zone_stats_rows")
      inParallel( // disjoint report sinks — overlapped (guide §2.6)
        () => IngestDiscovery.writeZone(
          observed(Quality.zoneStats(zones, "orders", "o_orderkey"), obsZ),
          outRoot, "report", "zone_stats"),
        () => IngestDiscovery.writeZone(
          Quality.ruleAudit(errorZ), outRoot, "report", "rule_audit"))
      Pipeline.writtenRows(spark, obsZ, s"$outRoot/report/zone_stats")
    }

    reports.toDF()
  }
}
