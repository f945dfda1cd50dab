package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Every zone Pipeline.runAll writes. */
  private val dwhZones = Seq("raw/orders", "raw/customer", "raw/lineitem", "clean/orders",
    "error/orders", "dwh/dim_customer", "dwh/dim_date", "dwh/fact_orders",
    "dwh/fact_lineitem", "report/zone_stats", "report/rule_audit")

  /** Every zone CorpusPipeline.runAll writes with span scrub, tokenizer
    * and perplexity buckets on (the run report is compared on stage and
    * rows: its seconds differ run to run). */
  private val corpusZones = Seq("raw/documents", "rejected/documents", "gated/documents",
    "capped/documents", "deduped/documents", "span_scrubbed/documents",
    "tokenized/documents", "ppl/documents", "shards/documents", "tokenizer/merges")

  /** A small corpus that exercises every stage: gate rejects (short,
    * stopword-free, repetitive), a source over its cap, exact and near
    * duplicates, a near-dup chain, and a shared span. */
  private def corpusDocs = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def text(prefix: String, n: Int) =
      (1 to n).map(i => s"$prefix$i ${stops(i % stops.length)}").mkString(" ")
    val t1 = text("w", 20)
    val docs = Seq(
      (1L, t1, "a"), (2L, t1.replace(" ", "  "), "a"),       // exact dup after normalization
      (3L, text("w", 19) + " zz the", "a"),                   // near-dup of 1
      (4L, text("w", 18) + " yy the zz the", "a"),            // near-dup chain via 3
      (5L, "tiny doc", "a"),                                  // too short
      (6L, (1 to 40).map(i => s"x$i").mkString(" "), "a"),    // no stopwords
      (7L, Seq.fill(20)("the spam").mkString(" "), "a"),      // repetitive
      (8L, "p1 p2 p3 p4 " + text("q", 20), "a")) ++           // shares a span with 9
      (Seq((9L, "p1 p2 p3 p4 " + text("r", 20), "b"))) ++
      (10L to 16L).map(i => (i, text(s"b${i}x", 20), "b"))    // source b over its cap
    docs.toDF("doc_id", "text", "source")
  }

  private def runCorpus(out: String, runId: String) =
    CorpusPipeline.runAll(spark, corpusDocs, out, runId,
      minTokens = 10, minStopRatio = 0.05, maxDupFraction = 0.5,
      capPerSource = 6, nearDupThreshold = 0.7, numShards = 3,
      spanScrub = Some(4), bpeMerges = Some(8), pplBuckets = Some(2))

  /** Runs `body` and returns `describe(job, its SQL execution's
    * description)` for every job that started while it ran and `describe`
    * picks out. The description is the call site of the Dataset action
    * that started the execution ("count at Foo.scala:12") — AQE runs most
    * of an action's jobs from its own threads, so their stage names don't
    * carry it. */
  private def jobsDuring(body: => Unit)(
      describe: (SparkListenerJobStart, Option[String]) => Option[String]): Seq[String] = {
    val marker = "graft.spec.marker"
    val found = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(marker) != null)) markerSeen.countDown()
        else describe(e, props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(executions.get(id)))).foreach(found.add)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus delivers in order: once the marker job's start
      // arrives, so has the start of every job `body` launched
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(l)
    found.asScala.toSeq
  }

  /** Stage names of every job that starts without a SQL execution id while
    * `body` runs. Spark's parquet schema inference (`spark.read.parquet`
    * without a schema) is exactly this class of job. */
  private def jobsWithoutSqlExecution(body: => Unit): Seq[String] =
    jobsDuring(body) { (e, _) =>
      if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
        Some(e.stageInfos.map(_.name).mkString(", "))
      else None
    }

  /** Call sites of every job started by a `count()` or `isEmpty` while
    * `body` runs. */
  private def countOrIsEmptyJobs(body: => Unit): Seq[String] =
    jobsDuring(body) { (e, execution) =>
      (execution.toSeq ++ e.stageInfos.map(_.name)).find(_.matches("(count|isEmpty) at .*"))
    }

  test("runAll drives stage -> quality -> DWH end-to-end with a run report") {
    val out = Files.createTempDirectory("graft_pipe").toFile.getAbsolutePath
    val report = Pipeline.runAll(spark, "/root/testdata/sf0.001", out, "run_p1")
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap

    val raw = spark.read.parquet(s"$out/raw/orders")
    val clean = spark.read.parquet(s"$out/clean/orders")
    val fact = spark.read.parquet(s"$out/dwh/fact_orders")
    val factLine = spark.read.parquet(s"$out/dwh/fact_lineitem")

    assert(report.keySet == Set("stage_raw", "quality", "transform_load", "report"))
    assert(report("stage_raw") == raw.count())
    // raw data is valid, so clean == raw and the error zone is absent/empty
    assert(clean.count() == raw.count())
    assert(!new java.io.File(s"$out/error/orders").exists() ||
      spark.read.parquet(s"$out/error/orders").count() == 0)
    // DWH facts: every clean order at order grain, every line of a clean
    // order at line grain, all with resolved surrogate keys
    assert(fact.count() == clean.count())
    assert(fact.where(fact("customer_key").isNull).count() == 0)
    assert(report("transform_load") == fact.count() + factLine.count())
    assert(factLine.count() == spark.read.parquet(s"$out/raw/lineitem").count())
    assert(factLine.where(factLine("part_key").isNull || factLine("customer_key").isNull)
      .count() == 0)
    // metadata rode through the zones
    assert(raw.columns.contains("_run_id"))
    // DWH layout is granularity-ADAPTIVE (round 20): at sf0.001 rows/day is
    // far below spark.graft.fact.minRowsPerDay, so the facts are written
    // FLAT (no date_key= dirs — the day-dir layout would be thousands of
    // sub-KB files) but still carry date_key as a data column, hash-
    // clustered with a within-partition sort for parquet row-group min/max
    // skipping. The at-scale day-dir shape is pinned by the dedicated
    // writeFactPartitioned test below.
    for (f <- Seq("fact_orders", "fact_lineitem")) {
      val parts = new java.io.File(s"$out/dwh/$f").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(parts.isEmpty, s"expected flat low-volume layout for $f, got dirs: ${parts.toSeq}")
      assert(spark.read.parquet(s"$out/dwh/$f").columns.contains("date_key"))
    }
    // report zone: per-zone stats cover every raw row; rule audit readable
    val stats = spark.read.parquet(s"$out/report/zone_stats")
    assert(stats.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .collect().head.getLong(0) == raw.count())
    assert(spark.read.parquet(s"$out/report/rule_audit").columns.toSet ==
      Set("rule", "n_violations"))

    // DWH dimensional shape: dim_date covers every fact date_key
    val dimDate = spark.read.parquet(s"$out/dwh/dim_date")
    assert(dimDate.select("date_key").distinct().count() == dimDate.count())
    assert(fact.join(dimDate, Seq("date_key"), "left_anti").count() == 0)
  }

  test("Tables.load reads every source with the schema inference would give") {
    for (t <- Tables.names)
      assert(Tables.load(spark, sf, t).schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
  }

  test("neither pipeline launches a job outside a SQL execution (no schema inference)") {
    val dwh = Files.createTempDirectory("graft_pipe_jobs").toFile.getAbsolutePath
    val corpus = Files.createTempDirectory("graft_corpus_jobs").toFile.getAbsolutePath
    val docs = (1L to 12L).map(i =>
      (i, (1 to 40).map(j => s"w${(i * j) % 17}x$j").mkString(" "), if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val stray = jobsWithoutSqlExecution {
      Pipeline.runAll(spark, sf, dwh, "run_jobs").collect()
      CorpusPipeline.runAll(spark, docs, corpus, "run_jobs",
        minTokens = 10, minStopRatio = 0.0, maxDupFraction = 0.9,
        capPerSource = 5, numShards = 2,
        spanScrub = Some(4), bpeMerges = Some(6), pplBuckets = Some(2)).collect()
    }
    assert(stray.isEmpty, s"jobs without a SQL execution id: ${stray.mkString("; ")}")
  }

  test("lineage mode (spark.graft.localCheckpoint=false) writes the same DWH zones") {
    val ckpt = Files.createTempDirectory("graft_pipe_ckpt").toFile.getAbsolutePath
    val lineage = Files.createTempDirectory("graft_pipe_lineage").toFile.getAbsolutePath
    Pipeline.runAll(spark, sf, ckpt, "run_ln").collect()
    spark.conf.set("spark.graft.localCheckpoint", "false")
    try Pipeline.runAll(spark, sf, lineage, "run_ln").collect()
    finally spark.conf.unset("spark.graft.localCheckpoint")
    for (z <- dwhZones) {
      val a = spark.read.parquet(s"$ckpt/$z")
      val b = spark.read.parquet(s"$lineage/$z")
      assert(a.schema == b.schema, z)
      assert(a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, z)
    }
    // the surrogate keys of both checkpointed dims took part
    assert(spark.read.parquet(s"$ckpt/dwh/dim_customer").columns.contains("customer_key"))
    assert(spark.read.parquet(s"$ckpt/dwh/fact_lineitem").columns.contains("part_key"))
  }

  test("CorpusPipeline lineage mode (spark.graft.localCheckpoint=false) writes the same zones") {
    val ckpt = Files.createTempDirectory("graft_corpus_ckpt").toFile.getAbsolutePath
    val lineage = Files.createTempDirectory("graft_corpus_lineage").toFile.getAbsolutePath
    val reportCkpt = runCorpus(ckpt, "run_cl").select("stage", "rows")
      .as[(String, Long)].collect().toSeq
    spark.conf.set("spark.graft.localCheckpoint", "false")
    val reportLineage =
      try runCorpus(lineage, "run_cl").select("stage", "rows").as[(String, Long)].collect().toSeq
      finally spark.conf.unset("spark.graft.localCheckpoint")
    assert(reportCkpt == reportLineage)
    // every gate reason, the cap and both dedup kinds took part
    val rows = reportCkpt.toMap
    // docs 5-7 fail the gate, source b (9-16) is capped from 8 to 6, and
    // dedup drops doc 2 (exact) and docs 3 and 4 (near-dups of doc 1)
    assert(rows("ingest") == 16L && rows("quality_gate") == 13L && rows("source_cap") == 11L)
    assert(rows("dedup") == 8L, s"$reportCkpt")
    for (z <- corpusZones) {
      val a = spark.read.parquet(s"$ckpt/$z")
      val b = spark.read.parquet(s"$lineage/$z")
      assert(a.schema == b.schema, z)
      assert(a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, z)
    }
  }

  test("no job CorpusPipeline.runAll starts comes from a count() or isEmpty") {
    // the detector sees both actions, over a checkpoint too
    val probe = spark.range(50).toDF().localCheckpoint()
    val seen = countOrIsEmptyJobs {
      probe.count()
      probe.where("id > 3").limit(1).isEmpty
    }
    assert(seen.exists(_.startsWith("count at ")) && seen.exists(_.startsWith("isEmpty at ")),
      seen.mkString("; "))
    val out = Files.createTempDirectory("graft_corpus_counts").toFile.getAbsolutePath
    val found = countOrIsEmptyJobs(runCorpus(out, "run_cc").collect())
    assert(found.isEmpty, s"count/isEmpty jobs: ${found.mkString("; ")}")
  }

  test("Ckpt.localObserved reads its aggregate off the checkpoint's own action, in both modes") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000).toDF("id").where(col("id") % 3 === 0)
      .withColumn("big", col("id") > 500)
    def observe() = {
      var got: (org.apache.spark.sql.DataFrame, Long, Long, Long) = null
      // the fallback runs the aggregate as a collect job: none may start
      val collects = jobsDuring {
        val (c, n) = Ckpt.localObserved(df, count(lit(1)))
        val (_, big) = Ckpt.localObserved(df, sum(col("big").cast("long")))
        val (_, none) = Ckpt.localObserved(df.where(col("id") < 0), sum(col("id")))
        got = (c, n, big, none)
      } { (_, execution) => execution.filter(_.startsWith("collect at")) }
      (got, collects)
    }
    val ((ckpt, n, big, none), collects) = observe()
    assert((n, big, none) == ((334L, 167L, 0L)))
    assert(collects.isEmpty, collects.mkString("; "))
    assert(ckpt.count() == 334L && ckpt.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.nonEmpty)
    // lineage mode: the plan itself comes back, the aggregate ran as a job
    spark.conf.set("spark.graft.localCheckpoint", "false")
    try {
      val ((lineage, n2, big2, none2), _) = observe()
      assert((n2, big2, none2) == ((334L, 167L, 0L)))
      assert(lineage eq df)
    } finally spark.conf.unset("spark.graft.localCheckpoint")
  }

  test("concurrent first actions over a lazy checkpoint compute each row once") {
    import org.apache.spark.sql.functions._
    import graft.Ckpt.CkptOps
    // the quality stage's shape: clean and error writes overlap via
    // inParallel over the lazily checkpointed rule-engine output
    val evals = spark.sparkContext.longAccumulator("rule_evals")
    val rule = udf { (x: Long) => evals.add(1); x }
    val annotated = spark.range(0, 20000, 1, 8).select(rule(col("id")).as("id")).ckptLocalLazy()
    val out = Files.createTempDirectory("graft_lazy_par").toFile.getAbsolutePath
    Pipeline.inParallel(
      () => annotated.where(col("id") % 2 === 0).write.parquet(s"$out/even"),
      () => annotated.where(col("id") % 2 =!= 0).write.parquet(s"$out/odd"))
    assert(evals.value == 20000L)
    assert(spark.read.parquet(s"$out/even").count() + spark.read.parquet(s"$out/odd").count() ==
      20000L)
  }

  test("writeFactPartitioned: day dirs at scale, flat hash-clustered below the threshold") {
    import org.apache.spark.sql.functions._
    val fact = spark.range(0, 600).select(
      col("id").as("k"),
      (lit(20240101) + (col("id") % 3)).cast("int").as("date_key"))
    // rows/day ABOVE the threshold -> day-dir pruning layout
    val outHi = Files.createTempDirectory("graft_fact_hi").toFile.getAbsolutePath
    graft.operators.Star.writeFactPartitioned(fact, s"$outHi/f", "date_key", "k",
      rowsPerDayHint = 2e6)
    val hiDirs = new java.io.File(s"$outHi/f").listFiles().filter(_.isDirectory).map(_.getName)
    assert(hiDirs.nonEmpty && hiDirs.forall(_.startsWith("date_key=")), hiDirs.toSeq)
    // rows/day BELOW the threshold -> flat, date_key kept as a data column
    val outLo = Files.createTempDirectory("graft_fact_lo").toFile.getAbsolutePath
    graft.operators.Star.writeFactPartitioned(fact, s"$outLo/f", "date_key", "k",
      rowsPerDayHint = 200.0)
    assert(new java.io.File(s"$outLo/f").listFiles().forall(!_.isDirectory))
    // identical rows either way, and the flat layout keeps the column
    val hi = spark.read.parquet(s"$outHi/f").select("k", "date_key")
    val lo = spark.read.parquet(s"$outLo/f").select("k", "date_key")
    assert(hi.count() == 600 && lo.count() == 600)
    assert(hi.exceptAll(lo).isEmpty && lo.exceptAll(hi).isEmpty)
    // unknown volume (hint < 0) keeps the conservative day-dir layout
    val outUk = Files.createTempDirectory("graft_fact_uk").toFile.getAbsolutePath
    graft.operators.Star.writeFactPartitioned(fact, s"$outUk/f", "date_key", "k")
    assert(new java.io.File(s"$outUk/f").listFiles()
      .filter(_.isDirectory).forall(_.getName.startsWith("date_key=")))
  }

  test("two runs with a changed customer snapshot version the SCD2 dim; facts resolve current") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_pipe2").toFile.getAbsolutePath
    val orig = "/root/testdata/sf0.001"

    // Second-run source: same tables, but some customers changed market
    // segment — the attribute change SCD2 must version.
    val mutated = Files.createTempDirectory("graft_sf_mut").toFile.getAbsolutePath
    for (t <- Seq("orders", "lineitem", "part", "nation", "region", "supplier",
                  "documents", "embeddings", "events"))
      Files.copy(java.nio.file.Paths.get(s"$orig/$t.parquet"),
        java.nio.file.Paths.get(s"$mutated/$t.parquet"))
    spark.read.parquet(s"$orig/customer.parquet")
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 10 === 0, concat(lit("MOVED_"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
      .write.parquet(s"$mutated/customer.parquet")

    Pipeline.runAll(spark, orig, out, "run_a", "2026-01-01 00:00:00").collect()
    Pipeline.runAll(spark, mutated, out, "run_b", "2026-02-01 00:00:00").collect()

    val dim = spark.read.parquet(s"$out/dwh/dim_customer")
    assert(Seq("valid_from", "valid_to", "is_current", "customer_key")
      .forall(dim.columns.contains))
    val moved = dim.where(col("c_custkey") % 10 === 0)
    val unmoved = dim.where(col("c_custkey") % 10 =!= 0)
    // changed keys: two versions — the old one closed at run 2's snapshot
    // time and no longer current, the new one open-ended and current
    assert(moved.groupBy("c_custkey").count().where(col("count") =!= 2).count() == 0)
    assert(moved.where(!col("is_current"))
      .agg(min(col("valid_to")), max(col("valid_to"))).collect().head.toSeq.forall(
        _ == java.sql.Timestamp.valueOf("2026-02-01 00:00:00")))
    assert(moved.where(col("is_current")).where(!col("c_mktsegment").startsWith("MOVED_"))
      .count() == 0)
    // unchanged keys: exactly one (current) version
    assert(unmoved.groupBy("c_custkey").count().where(col("count") =!= 1).count() == 0)
    assert(unmoved.where(!col("is_current")).count() == 0)
    // per-version surrogate keys are unique across the whole dim
    assert(dim.select("customer_key").distinct().count() == dim.count())
    // facts resolve against the CURRENT version's surrogate key
    val cur = dim.where(col("is_current")).select(col("c_custkey"), col("customer_key"))
    val fact = spark.read.parquet(s"$out/dwh/fact_orders")
    assert(fact.where(col("customer_key").isNull).count() == 0)
    assert(fact.join(cur, Seq("customer_key"), "left_anti").count() == 0)
  }

  test("CorpusPipeline curates ingest -> gate -> cap -> dedup -> shards with a report") {
    val out = Files.createTempDirectory("graft_corpus").toFile.getAbsolutePath
    val t1 = (1 to 40).map(i => s"w$i").mkString(" ")            // 40 unique tokens
    val t1near = (1 to 39).map(i => s"w$i").mkString(" ") + " zz" // ~0.95 shingle jaccard
    val t2 = (1 to 40).map(i => s"v$i").mkString(" ")
    val docs = (Seq(
      (1L, t1, "a"), (2L, t1, "a"),      // exact duplicate pair -> keep 1
      (3L, t1near, "a"),                 // near-dup of 1 -> dropped by clusters
      (4L, t2, "a"),                     // distinct good doc
      (5L, "tiny doc", "a")              // gate-rejected (too short)
    ) ++ (10L to 14L).map(i =>           // source b: 5 good docs, cap keeps 4
      (i, (1 to 40).map(j => s"b${i}x$j").mkString(" "), "b")))
      .toDF("doc_id", "text", "source")

    val report = CorpusPipeline.runAll(spark, docs, out, "run_c1",
      minTokens = 10, minStopRatio = 0.0, maxDupFraction = 0.9,
      capPerSource = 4, nearDupThreshold = 0.8, numShards = 2)
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap

    assert(report.keySet == Set("ingest", "quality_gate", "source_cap", "dedup", "shard_write"))
    assert(report("ingest") == 10L)
    assert(report("quality_gate") == 9L)   // doc 5 rejected
    assert(report("source_cap") == 8L)     // source b: 5 -> 4
    assert(report("dedup") == 6L)          // -doc2 (exact), -doc3 (near-dup)
    assert(report("shard_write") == 6L)

    val rejected = spark.read.parquet(s"$out/rejected/documents")
      .select("doc_id", "_reasons").as[(Long, String)].collect().toMap
    assert(rejected == Map(5L -> "too_short"))
    val survivors = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id").as[Long].collect().toSet
    assert(Set(1L, 4L).subsetOf(survivors))
    assert(Set(2L, 3L, 5L).intersect(survivors).isEmpty)
    // shard layout: one directory per assigned shard
    val shardDirs = new java.io.File(s"$out/shards/documents")
      .listFiles().count(_.getName.startsWith("shard="))
    assert(shardDirs >= 1 && shardDirs <= 2)
    // deterministic rerun: identical survivor set
    val out2 = Files.createTempDirectory("graft_corpus2").toFile.getAbsolutePath
    CorpusPipeline.runAll(spark, docs, out2, "run_c2",
      minTokens = 10, minStopRatio = 0.0, maxDupFraction = 0.9,
      capPerSource = 4, nearDupThreshold = 0.8, numShards = 2)
    val survivors2 = spark.read.parquet(s"$out2/shards/documents")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors2 == survivors)
  }

  test("CorpusPipeline model + domain gates: per-doc classifier keep, tiny domains dropped wholesale") {
    val weights = Array.tabulate(64) { b =>
      ((b.toLong * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5
    }
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val docs = ((1L to 12L).map(i => (i, words(s"b$i", 12), "big")) ++
      Seq((20L, words("t", 12), "tiny"), (21L, words("u", 12), "tiny")))
      .toDF("doc_id", "text", "source")
    // expected model-gate survivors, straight from the operator
    val perDoc = graft.operators.TextAnalysis
      .hashClassifier(docs, "doc_id", "text", weights, carry = Seq("source"))
      .where(org.apache.spark.sql.functions.col("kept"))
      .select("doc_id", "source")
      .as[(Long, String)].collect()
    val out = Files.createTempDirectory("graft_corpus_mg").toFile.getAbsolutePath
    val report = CorpusPipeline.runAll(spark, docs, out, "run_mg",
        minTokens = 1, minStopRatio = 0.0, maxDupFraction = 0.95,
        capPerSource = 100, nearDupThreshold = 0.9, numShards = 2,
        classifierWeights = Some(weights), domainMinKeepRate = Some(0.0),
        domainMinDocs = 3L)
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap
    assert(report("model_gate") == perDoc.length.toLong,
      s"model gate must keep exactly the classifier's keeps: $report")
    // tiny (2 docs < minDocs 3) drops wholesale regardless of its verdicts
    val expectedAfterDomain = perDoc.count(_._2 == "big").toLong
    assert(report("domain_gate") == expectedAfterDomain, s"$report")
    assert(report.contains("shard_write"))
  }

  test("CorpusPipeline optional stages: span scrub rewrites, semantic dedup drops, rerun identical") {
    val passage = (1 to 4).map(i => s"p$i").mkString(" ")
    def uniq(prefix: String) = (1 to 36).map(i => s"$prefix$i").mkString(" ")
    val docs = Seq(
      (1L, passage + " " + uniq("a"), "a"),
      (2L, passage + " " + uniq("c"), "a"), // repeats doc 1's aligned first span
      (3L, uniq("d"), "a"),
      (4L, uniq("e"), "a"),                 // embedding-identical to doc 3
      (5L, uniq("f"), "a")
    ).toDF("doc_id", "text", "source")
    // paraphrase scenario: distinct TEXTS (row-grain dedup keeps both) with
    // identical embeddings -> only the semantic stage can catch doc 4
    val emb = Seq(
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(0f, 1f, 0f, 0f)),
      (5L, Seq(1f, 0f, 0f, 0f))
    ).toDF("doc_id", "embedding")
    def run(root: String, runId: String) =
      CorpusPipeline.runAll(spark, docs, root, runId,
        minTokens = 10, minStopRatio = 0.0, maxDupFraction = 0.9,
        capPerSource = 10, nearDupThreshold = 0.8, numShards = 2,
        spanScrub = Some(4), embeddings = Some(emb), semanticThreshold = 0.95,
        bpeMerges = Some(6), pplBuckets = Some(2))
    val out = Files.createTempDirectory("graft_corpus_opt").toFile.getAbsolutePath
    val report = run(out, "run_c3")
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap
    assert(report.keySet == Set("ingest", "quality_gate", "source_cap", "dedup",
      "span_scrub", "semantic_dedup", "tokenizer", "ppl_buckets", "shard_write"))
    assert(report("span_scrub") == 5L)     // scrub rewrites, never drops
    assert(report("semantic_dedup") == 4L) // doc 4 dropped
    assert(report("tokenizer") == 4L)      // annotates, never drops
    assert(report("ppl_buckets") == 4L)    // annotates, never drops
    // 4 survivors in one stratum cut into 2 buckets of 2. Post-scrub every
    // surviving token is corpus-unique, so all docs tie on the unigram LM
    // and the NTILE falls to the deterministic doc_id tie-break: docs
    // (1, 2) -> bucket 1, (3, 5) -> bucket 2
    val ppl = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id", "ppl_bucket").as[(Long, Int)].collect().toMap
    assert(ppl == Map(1L -> 1, 2L -> 1, 3L -> 2, 5L -> 2))
    // tokenizer artifact: at most the requested merges, ranked from 1
    val merges = spark.read.parquet(s"$out/tokenizer/merges")
      .select("rank").as[Int].collect().sorted
    assert(merges.nonEmpty && merges.length <= 6 && merges.head == 1)
    // every surviving doc carries a positive subword piece count
    val pieces = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id", "n_pieces").as[(Long, Int)].collect().toMap
    assert(pieces.values.forall(_ > 0))
    val spanTexts = spark.read.parquet(s"$out/span_scrubbed/documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(spanTexts(1L).startsWith(passage), "first occurrence keeps its span")
    assert(!spanTexts(2L).contains("p1") && spanTexts(2L).startsWith("c1"),
      s"doc 2 must lose the repeated span: ${spanTexts(2L).take(40)}")
    val survivors = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 5L)) // docs w/o embeddings kept; 4 dropped
    val out2 = Files.createTempDirectory("graft_corpus_opt2").toFile.getAbsolutePath
    run(out2, "run_c4")
    val texts2 = spark.read.parquet(s"$out2/shards/documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val texts1 = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(texts2 == texts1)
  }
}
