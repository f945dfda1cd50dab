package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression specs: the scale claims PLANS.md documents are
  * asserted here so a refactor that silently de-optimizes a plan (loses a
  * broadcast, stops pushing filters, widens a scan, breaks map-side partial
  * aggregation) fails the build instead of only showing up at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Plan with AQE disabled: exchange reuse is then decided statically by
    * the ReuseExchange rule and visible in the plan string. Under AQE the
    * SAME canonical-equality check runs at runtime through the stage cache,
    * so a static ReusedExchange here guarantees the adaptive session (the
    * driver's default) materializes the stage once too. */
  private def staticPlanOf(name: String): String = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    finally spark.conf.set(key, prev)
  }

  test("star_rollup joins its dimensions with broadcast hash joins") {
    val p = planOf("star_rollup")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dim joins:\n$p")
    assert(!p.contains("SortMergeJoin"), "a dim lookup must never sort-merge")
  }

  test("equality filters are pushed down to the parquet scan") {
    val p = Tables.orders(spark, sf)
      .filter(col("o_orderkey") === 42).select(col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(o_orderkey,42)"),
      s"filter not pushed:\n$p")
  }

  test("normalize_strings scans only the three referenced customer columns") {
    val p = planOf("normalize_strings")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("c_custkey") && read.contains("c_name") &&
      read.contains("c_mktsegment"), s"missing columns: $read")
    assert(!read.contains("c_acctbal") && !read.contains("c_nationkey"),
      s"scan reads unused columns: $read")
  }

  test("topn_agg runs the custom aggregate as partial then final (map-side heaps)") {
    val p = planOf("topn_agg")
    assert(p.contains("ObjectHashAggregate"), s"custom TypedImperativeAggregate lost:\n$p")
    assert(p.contains("partial_top_k_pairs") || p.contains("partial top_k_pairs")
      || p.toLowerCase.contains("partial"), s"no map-side partial aggregation:\n$p")
  }

  test("pii_luhn is entirely map-side: no keyed shuffle, zero joins") {
    // (no WholeStageCodegen pin: lambda HOFs evaluate interpreted inside
    // the Project — still per-row map-side work, just not janino'd; the
    // loader's round-robin spread of the one-row-group testdata is the
    // only permitted Exchange — it carries no key and exists only so
    // local[n] parallelizes the scan)
    val p = planOf("pii_luhn")
    val keyedExchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))
      .toSeq
    assert(keyedExchanges.isEmpty, s"the checksum scan must not shuffle on a key:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a per-row checksum:\n$p")
  }

  test("blocklist_gate is entirely map-side: no keyed shuffle, zero joins") {
    // same discipline as pii_luhn: the blocklist rides the plan as
    // literals and verdicts are a pure projection — no join against a
    // list table, no shuffle; the loader's round-robin spread is the
    // only permitted Exchange. Scan must prune to (doc_id, text).
    val p = planOf("blocklist_gate")
    val keyedExchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))
      .toSeq
    assert(keyedExchanges.isEmpty, s"the blocklist scan must not shuffle on a key:\n$p")
    assert(!p.contains("Join"), s"a literal blocklist must not join:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && !read.contains("source") && !read.contains("lang"),
      s"scan reads unused columns: $read")
  }

  test("hll_registers partial-aggregates map-side: <= 256 rows per task cross the shuffle") {
    val p = planOf("hll_registers")
    // one partial HashAggregate below the bucket exchange, final above —
    // the whole point of the sketch: shuffle volume is register-count-
    // bounded at any corpus size
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no partial/final agg pair:\n$p")
    assert(p.toLowerCase.contains("partial_max") || p.toLowerCase.contains("partial max")
      || p.toLowerCase.contains("partial"), s"no map-side partial max:\n$p")
    assert(!p.contains("SortAggregate"), s"register max must hash-aggregate:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && !read.contains("source") && !read.contains("lang"),
      s"scan reads unused columns: $read")
  }

  test("unigram_segment runs the Viterbi DP once per DISTINCT word, then joins back") {
    val p = planOf("unigram_segment")
    // the DP rides in the result expressions of the DISTINCT-WORD
    // aggregate (HashAggregate keys=[_w...] — the plan string elides
    // result expressions, so pin the structure): dictionary distinct,
    // equi-join back to the token stream, doc-keyed final aggregate
    assert(p.contains("HashAggregate(keys=[_w"),
      s"no distinct-word aggregate (DP must run per dictionary word):\n$p")
    assert(p.contains("HashAggregate(keys=[doc_id"),
      s"no doc-keyed final aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"token/dictionary join degenerated:\n$p")
    // the per-doc sums must arrive map-side combined
    assert(p.contains("partial_sum"), s"no map-side partial sum:\n$p")
  }

  test("dedup_substr shuffles gram HASHES only, windows partitioned by them") {
    val p = planOf("dedup_substr")
    // the first-occurrence window must partition on the gram key (high-
    // cardinality md5/xxhash), never run unpartitioned, and the exchange
    // feeding it must hash-partition on that key — the (hash, id, pos)
    // ~20-bytes-per-token shuffle is the operator's scale claim
    assert(p.contains("hashpartitioning(_h"),
      s"first-occurrence exchange no longer keyed on the gram hash:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dup-position join degenerated:\n$p")
    // reassembly joins back on doc id and aggregates per doc
    assert(p.contains("hashpartitioning(_id"),
      s"no doc-keyed reassembly exchange:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("source"),
      s"scan reads unused columns: $read")
  }

  test("quantile_sketch is window-free and scans the corpus exactly twice") {
    val p = planOf("quantile_sketch")
    // the sketch's whole design: a <= 61-rows-per-task histogram shuffle
    // plus one survivor pass — no ranking window anywhere, and the fused
    // level/total aggregate keeps the corpus at TWO scans (a third
    // showed up before the r16 fusion; this pin keeps it out)
    assert(!p.contains("Window"), s"quantile sketch must not rank via windows:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected exactly 2 corpus scans, got $scans:\n$p")
    assert(p.toLowerCase.contains("partial"), s"histogram not map-side combined:\n$p")
  }

  test("f2_sketch evaluates ONE md5 per row and stays window-free") {
    val p = planOf("f2_sketch")
    // the hash and its words live in their own projections — inlined into
    // the 96 sum expressions the hash re-evaluates per estimator (the
    // measured 8x cliff); and the 96-sum aggregate must arrive map-side
    // combined (<= 96 longs per task cross the exchange)
    val md5s = "md5\\(".r.findAllIn(p).length
    assert(md5s == 1, s"expected exactly 1 md5 site, got $md5s:\n$p")
    assert(!p.contains("Window"), s"F2 must not rank via windows:\n$p")
    assert(p.contains("partial_sum"), s"sign sums not map-side combined:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected sketch pass + exact pass = 2 scans, got $scans:\n$p")
  }

  test("mann_whitney ranks POST-aggregation: one window on the value-domain frame") {
    val p = planOf("mann_whitney")
    // the midrank cumulative must run on the (value, count) union — the
    // ksTwoSample discipline — never on corpus rows
    val wins = "Window".r.findAllIn(p).length
    assert(wins == 1, s"expected exactly 1 post-aggregation window, got $wins:\n$p")
    assert(p.toLowerCase.contains("partial"), s"histogram not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("psi_drift stays window-free: smoothing totals ride 1-row broadcasts") {
    val p = planOf("psi_drift")
    assert(!p.contains("Window"), s"PSI must not rank via windows:\n$p")
    assert(p.toLowerCase.contains("partial"), s"bin counts not map-side combined:\n$p")
    // grid min/max under each side + the totals join — all the audited
    // 1-row-stats broadcast class, and nothing else may cross-join. The
    // static print shows 5 sites because the totals subtree REPLANS the
    // bin-count union (its two stats crosses repeat); the duplicated
    // subtrees are canonically equal, so AQE's stage cache materializes
    // each once at runtime (the self_bleu/bm25 precedent).
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 5, s"expected <= 5 one-row stats crosses, got $bnlj:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("psi_by_source windows partition on source over the bounded grid") {
    val p = planOf("psi_by_source")
    assert(p.contains("windowspecdefinition(source"),
      s"per-source totals lost their source partitioning:\n$p")
    // one grid cross + the global-stats cross, whose subtree the static
    // print replans under cnt/gv/grid (canonically equal → one runtime
    // stage; the psi_drift note)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 4, s"expected stats + grid crosses only, got $bnlj:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("bootstrap_ci: map-side rep explode, B-group partial sums, no window") {
    val p = planOf("bootstrap_ci")
    assert(!p.contains("Window"), s"bootstrap needs no window:\n$p")
    assert(p.contains("partial_sum"), s"replicate sums not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    // the rep blow-up is ONE Generate — never a join against a rep table
    val gens = "Generate".r.findAllIn(p).length
    assert(gens <= 1, s"expected one rep explode, got $gens:\n$p")
  }

  test("jackknife_mean: one group aggregate, broadcast stats, no window") {
    val p = planOf("jackknife_mean")
    assert(!p.contains("Window"), s"jackknife needs no window:\n$p")
    assert(p.toLowerCase.contains("partial"), s"group sums not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("dow_profile: days-sized broadcast work above the daily aggregate") {
    val p = planOf("dow_profile")
    assert(!p.contains("Window"), s"dow profile needs no window:\n$p")
    assert(!p.contains("SortMergeJoin"), s"days-sized frames must join broadcast:\n$p")
    assert(p.contains("partial_sum"), s"daily sums not map-side combined:\n$p")
  }

  test("acf_daily: everything above the daily aggregate is days-sized broadcast work") {
    val p = planOf("acf_daily")
    // the corpus collapses map-side to (day, decimal) before ANY join;
    // lag pairs, mean, and denominator all join broadcast — a
    // SortMergeJoin would mean a days-frame grew a real shuffle
    assert(!p.contains("Window"), s"ACF must not use windows:\n$p")
    assert(p.contains("partial_sum"), s"daily sums not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"days-sized frames must join broadcast:\n$p")
  }

  test("cusum_daily: one day-spine cumulative window, broadcast stats only") {
    val p = planOf("cusum_daily")
    // count window FUNCTIONS, not the substring "Window" (which also
    // matches inside windowspecdefinition expression text); the static
    // print shows the ONE cumulative window twice because the max-|S|
    // stats branch replans the cumsum subtree (canonically equal → one
    // runtime stage, the psi_drift note)
    val wins = "windowspecdefinition\\(".r.findAllIn(p).length
    assert(wins <= 2, s"expected only the cumulative window, got $wins:\n$p")
    assert(p.contains("partial_sum"), s"daily sums not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"days-sized frames must join broadcast:\n$p")
  }

  test("lm_stupid_backoff joins gram-keyed model tables; no cartesian, map-side counts") {
    val p = planOf("lm_stupid_backoff")
    assert(!p.contains("CartesianProduct"),
      s"model lookups must join on gram keys:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"model counts not map-side combined:\n$p")
    // the only cross is the audited 1-row model-token total
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"expected only the 1-row N broadcast, got $bnlj:\n$p")
  }

  test("token_burstiness cuts top-k via distributed TakeOrdered, never a vocab sort") {
    val p = planOf("token_burstiness")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k cut lost its bounded-heap shape:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"expected only the 1-row doc-count broadcast, got $bnlj:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
  }

  test("vocab_gini cumulates over the source-partitioned spectrum only") {
    val p = planOf("vocab_gini")
    assert(p.contains("windowspecdefinition(source"),
      s"spectrum cumulative lost its source partitioning:\n$p")
    assert(!p.contains("Join"), s"the spectrum chain needs no join:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
  }

  test("entropy_rate: context totals via the w1-partitioned window, no cartesian") {
    val p = planOf("entropy_rate")
    assert(p.contains("windowspecdefinition(_w1"),
      s"context totals lost their w1 partitioning:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"expected only the 1-row N broadcast, got $bnlj:\n$p")
  }

  test("source_token_mi: marginals via partitioned windows, 1-row stats crosses only") {
    val p = planOf("source_token_mi")
    assert(p.contains("windowspecdefinition(source") &&
      p.contains("windowspecdefinition(t#"),
      s"marginals lost their partitioned windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    // the N broadcasts + the 1-row MI x H tail; the static print replans
    // the count subtree under each reference (canonically equal → one
    // runtime stage, the psi_drift note)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 6, s"expected only 1-row stats crosses, got $bnlj:\n$p")
  }

  test("chao1_richness is one scan and two aggregate levels — no join, no window") {
    val p = planOf("chao1_richness")
    assert(!p.contains("Join"), s"chao1 needs no join:\n$p")
    assert(!p.contains("Window"), s"chao1 needs no window:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
  }

  test("yule_k is one scan and two aggregate levels — no join, no window") {
    val p = planOf("yule_k")
    assert(!p.contains("Join"), s"lexical diversity needs no join:\n$p")
    assert(!p.contains("Window"), s"lexical diversity needs no window:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
    assert(p.toLowerCase.contains("partial"), s"tf counts not map-side combined:\n$p")
  }

  test("js_divergence: rest = total − slice off the grid; totals partition on source") {
    val p = planOf("js_divergence")
    assert(p.contains("windowspecdefinition(source"),
      s"per-source totals lost their source partitioning:\n$p")
    // exactly ONE dimension-cross: the |sources| × |vocab| grid (absent
    // tokens must feed the rest-side sum); a second would mean a pair join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj == 1, s"expected only the sources × vocab grid cross, got $bnlj:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("benford_digits: map-side digit projection, broadcast-only joins") {
    val p = planOf("benford_digits")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 9-row grid must join broadcast:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected obs + total scans at most, got $scans:\n$p")
  }

  test("hybrid_rrf adds only bounded work above its rankers") {
    val p = planOf("hybrid_rrf")
    // the fusion window partitions by query_id over the <= |rankers|*k
    // union — never an unpartitioned rank. r20: the two rankers evaluate
    // CONCURRENTLY at construction (driver-thread overlap, guide §2.6)
    // into query-scoped checkpoints, so the fused plan consumes two
    // checkpoint scans — the ranker shapes themselves (bm25's
    // bounded-heap ObjectHashAggregate, the dense broadcast scan) stay
    // pinned by their own tests (bm25_topk / ann paths).
    assert(p.contains("windowspecdefinition(query_id"),
      s"fusion rank lost its query_id partitioning:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).length == 2,
      s"fusion must consume exactly the two checkpointed ranker lists:\n$p")
    assert(!p.contains("Scan parquet"),
      s"corpus-sized work leaked above the rankers into the fusion plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a fusion join degenerated to a cartesian product:\n$p")
  }

  test("self_bleu derives rest-counts without a pair join and aggregates map-side") {
    val p = planOf("self_bleu")
    // c_rest = total - c_src: the totals side re-aggregates the counts
    // table — same scan+explode+aggregate prefix, canonically equal, so
    // the adaptive stage cache materializes the corpus stage once (the
    // bm25 dfq precedent); what must NEVER appear is a source x source
    // pairing
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"self_bleu must never pair sources:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"gram counts not map-side combined:\n$p")
    val gens = "Generate".r.findAllIn(p).length
    assert(gens <= 2, s"n-gram orders must explode once per branch, got $gens Generates:\n$p")
  }

  test("wordpiece_segment runs the greedy automaton once per DISTINCT word") {
    val p = planOf("wordpiece_segment")
    assert(p.contains("HashAggregate(keys=[_w"),
      s"no distinct-word aggregate (greedy must run per dictionary word):\n$p")
    assert(p.contains("HashAggregate(keys=[doc_id"),
      s"no doc-keyed final aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"token/dictionary join degenerated:\n$p")
  }

  test("bloom_decontam probes via broadcast joins, never a corpus shuffle join") {
    val p = planOf("bloom_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"word-table/member probes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a KB-sized filter must never sort-merge with the corpus:\n$p")
  }

  test("lm_kn_trigram context window is vocabulary-partitioned, joins never degenerate") {
    val p = planOf("lm_kn_trigram")
    // the (w1,w2) context stats ride ONE partitioned window over the type
    // table; the continuation counts are grouped aggregates of it (r19 —
    // replaced the wMid/wDot full-type-table window exchanges). The
    // unpartitioned-window audit must stay clean here.
    assert(p.contains("windowspecdefinition(_w1"),
      s"KN context window lost its vocabulary partitioning:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a pair-stats join degenerated to a cartesian product:\n$p")
    assert(p.contains("partial_sum"), s"per-doc sums not map-side combined:\n$p")
  }

  test("ANN paths re-rank via the bounded-heap aggregate, never a per-query window") {
    for (q <- Seq("ann_topk", "ann_lsh", "ann_ivf")) {
      val p = planOf(q)
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost the TopKPairsAgg partial/final re-rank:\n$p")
      assert(!p.contains("Window"),
        s"$q still shuffles+sorts every candidate through a window:\n$p")
    }
  }

  test("bm25 re-ranks via the bounded-heap aggregate with no per-query window") {
    val p = planOf("bm25_topk")
    assert(p.contains("ObjectHashAggregate"),
      s"bm25_topk lost the TopKPairsAgg partial/final re-rank:\n$p")
    assert(!p.contains("Window"),
      s"bm25_topk shuffles+sorts every candidate through a window:\n$p")
  }

  test("lm_score aggregates map-side (partial HashAggregate) and joins on the postings grain") {
    val p = planOf("lm_score")
    assert(p.contains("HashAggregate"), s"lm_score lost hash aggregation:\n$p")
    assert(p.toLowerCase.contains("partial"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocab join should hash, not sort-merge at this scale:\n$p")
  }

  /** Unpartitioned-window detector on the LOGICAL plan: the physical plan
    * string always prints window contents inside windowspecdefinition(...)
    * (order spec + frame) even when the partition spec is empty, so the
    * former `windowspecdefinition()` string grep could never fire — a
    * vacuous guard. partitionSpec.isEmpty is the real signal. */
  private def globalWindows(name: String): Seq[Any] =
    SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }

  test("corpus_shuffle ranks with partitioned windows only (no single-partition sort)") {
    assert(globalWindows("corpus_shuffle").isEmpty,
      "corpus_shuffle fell back to a global window")
  }

  test("decontam_ngram confirms candidates with a broadcast semi-join on the bench grams") {
    val p = planOf("decontam_ngram")
    assert(p.contains("LeftSemi"), s"exact confirm join missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs explosion:\n$p")
  }

  test("decontam_ngram's Bloom prune is a codegen'd native probe, not a Scala UDF") {
    val p = planOf("decontam_ngram")
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("batchevalpython"),
      s"Bloom probe fell back to a UDF in the hottest projection:\n$p")
    assert(p.contains("bloom_might_contain"), s"native Bloom probe missing:\n$p")
  }

  test("bm25 main query is one corpus pass: map-side tf, no stats branch, no corpus-wide explode") {
    // The inline-vocabulary path computes n_docs/avgdl/df in ONE eager
    // pre-pass and per-doc tf MAP-SIDE (query_tf native expression), so the
    // main plan must contain exactly one Generate (exploding the per-doc
    // hit structs — never the raw token stream), one broadcast join against
    // the (query_id, term, df) LocalRelation, and NO scalar-stats
    // cross-join: the literals are already folded into the scoring
    // projection.
    val p = planOf("bm25_topk")
    assert(p.contains("query_tf"), s"map-side tf expression missing:\n$p")
    assert(!p.contains("Generate explode(split"),
      s"raw token stream exploded — per-doc tf regressed to a corpus-wide explode:\n$p")
    val generates = p.linesIterator.count(_.contains("Generate explode"))
    assert(generates <= 1, s"corpus passes through $generates Generates:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"scalar stats re-joined instead of folded as literals:\n$p")
    assert(p.contains("LocalTableScan"), s"qterms/df LocalRelation missing:\n$p")
  }

  test("bm25 large-vocab path explodes the corpus once and the hits exchange is reused by dfq") {
    // Past vocabInlineLimit the operator switches to the shared-exchange
    // postings pipeline: dfq (query-term document frequencies)
    // re-aggregates the hits table — if plan drift (e.g. column pruning
    // specializing dfq's copy) stops the exchange from canonicalizing
    // equal, the corpus is silently tokenized twice more. stats shares the
    // input exchange via the pmod required-column pad (the count(when)
    // guard in dfq and the pmod term are both load-bearing; see
    // Retrieval.bm25TopKShared).
    val docs = Tables.documents(spark, sf)
    val queries = docs.where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val p =
      try graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", 10, vocabInlineLimit = 0)
        .queryExecution.executedPlan.toString
      finally spark.conf.set(key, prev)
    assert(p.contains("ReusedExchange"),
      s"hits exchange not reused — corpus tokenized more than once:\n$p")
    val corpusExplodes = p.linesIterator
      .count(l => l.contains("Generate explode(split"))
    assert(corpusExplodes <= 1, s"corpus exploded $corpusExplodes times:\n$p")
  }

  test("lm_score tokenizes the corpus once: vocab and total re-aggregate the tf postings") {
    val p = staticPlanOf("lm_score")
    assert(p.contains("ReusedExchange"),
      s"tf exchange not reused — corpus tokenized more than once:\n$p")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes <= 1, s"corpus exploded $explodes times:\n$p")
  }

  test("ppl_buckets carries lang through lmScore's keys: fewer corpus reads than the join-back shape") {
    // lang used to be re-attached by a SECOND documents scan + doc-keyed
    // join; with lmScore's carry it rides the postings aggregation keys.
    // Compare the live query's static plan against the old formulation
    // built inline: strictly fewer parquet reads, and the tf exchange
    // still reused by the vocab/total branches.
    def scans(p: String) = p.linesIterator.count(_.contains("Scan parquet"))
    val p = staticPlanOf("ppl_buckets")
    assert(p.contains("ReusedExchange"),
      s"tf exchange not reused — corpus tokenized more than once:\n$p")
    val docs = graft.Tables.documents(spark, sf)
    val oldScored = docs.select(col("doc_id"), col("lang"))
      .join(graft.operators.TextAnalysis.lmScore(docs, "doc_id", "text"), "doc_id")
    val oldQuery = graft.operators.Analytics.ntileBuckets(
      oldScored, col("lang"), col("avg_logprob"), col("doc_id"), 3)
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val pOld =
      try oldQuery.queryExecution.executedPlan.toString
      finally spark.conf.set(key, prev)
    assert(scans(p) < scans(pOld),
      s"carry did not reduce corpus reads: new=${scans(p)} old=${scans(pOld)}")
  }

  test("lm_bigram explodes the corpus once: probs re-aggregate the tf postings") {
    val p = staticPlanOf("lm_bigram")
    assert(p.contains("ReusedExchange"),
      s"tf exchange not reused — corpus exploded more than once:\n$p")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes <= 1, s"corpus exploded $explodes times:\n$p")
  }

  test("tfidf_top explodes the corpus once; df from a token window; rank limit pushed") {
    val p = planOf("tfidf_top")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes <= 1, s"corpus exploded $explodes times:\n$p")
    // top-k per doc rides the rank-limit pushdown: partial WindowGroupLimit
    // keeps <= k rows per doc per partition BEFORE the rank shuffle
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed:\n$p")
  }

  test("quality_deciles scans the corpus once: the count table reuses the rank exchange") {
    val p = staticPlanOf("quality_deciles")
    assert(p.contains("ReusedExchange"),
      s"(stratum, value) exchange not reused — corpus scanned twice:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one documents scan, saw $scans:\n$p")
  }

  test("ann_pq: broadcast-only joins, bounded-heap aggregate, no sort-merge") {
    val p = planOf("ann_pq")
    assert(!p.contains("SortMergeJoin"), s"PQ search must never sort-merge:\n$p")
    // the shortlist and re-rank both run through the bounded top-k heap
    assert(p.contains("ObjectHashAggregate"), s"bounded-heap top-k missing:\n$p")
  }

  test("ann_ivfpq_res: broadcast-only joins (centroid table + probes), no sort-merge, no corpus shuffle join") {
    // residual index build = map-side cell assignment + a BROADCAST
    // centroid-vector join + compiled residual encode; probe search joins
    // the broadcast query side on cell — nothing corpus-sized may
    // sort-merge or shuffle-hash-join
    val p = planOf("ann_ivfpq_res")
    assert(!p.contains("SortMergeJoin"), s"residual IVF-PQ must never sort-merge:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"corpus must join broadcast sides only:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bounded-heap top-k missing:\n$p")
  }

  test("ann_ivf_fixed: pinned-centroid routing is map-side; query side broadcasts; no sort-merge") {
    // the pinned seeded centroids ride the plan as nearest_cells literals:
    // corpus cell assignment must be a pure projection, the probe-exploded
    // query side a broadcast, and nothing corpus-sized may sort-merge
    val p = planOf("ann_ivf_fixed")
    assert(!p.contains("SortMergeJoin"), s"fixed-IVF search must never sort-merge:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"corpus must join broadcast sides only:\n$p")
    assert(p.contains("BroadcastExchange"), s"query probes must broadcast:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bounded-heap top-k missing:\n$p")
  }

  test("ngram_novelty explodes once and takes df from a shingle window, not a join-back") {
    val p = planOf("ngram_novelty")
    val explodes = p.linesIterator.count(_.contains("Generate explode"))
    assert(explodes <= 1, s"corpus exploded $explodes times:\n$p")
    assert(!p.contains("Join"), s"df must come from a window, not a join-back:\n$p")
    // ... and the window is keyed on the high-cardinality shingle, never global.
    assert(globalWindows("ngram_novelty").isEmpty,
      "ngram_novelty fell back to a global window")
  }

  test("funnel computes every step milestone over ONE user_id exchange") {
    // k steps = k window passes over the same (user_id) partitioning; plan
    // drift that re-shuffles per step turns a 100 TB funnel into k shuffles.
    val p = planOf("funnel_steps")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges <= 1, s"funnel re-shuffles per step ($exchanges exchanges):\n$p")
    assert(!p.contains("SortMergeJoin"), s"funnel must not join per-step tables:\n$p")
  }

  test("heavy_hitters prunes the recount stream with a broadcast join on the candidates") {
    val p = planOf("heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate recount must broadcast the bounded sketch output:\n$p")
    assert(p.contains("misra_gries"), s"MG aggregate missing from the plan:\n$p")
    assert(p.contains("partial_misra_gries") || p.toLowerCase.contains("partial"),
      s"sketch must partial-aggregate map-side:\n$p")
  }

  test("shard_assign prefix-sums with partitioned windows only") {
    assert(globalWindows("shard_assign").isEmpty,
      "shard_assign fell back to a global window")
    // the per-bucket offsets and the total are driver-side literals: no
    // join of any kind touches the corpus
    val p = planOf("shard_assign")
    assert(!p.contains("Join"), s"offsets/total must ride the plan as literals:\n$p")
  }

  test("centroid_outliers joins the centroid table as a broadcast, never shuffling the corpus") {
    val p = planOf("centroid_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"centroids must broadcast onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for a dimension-sized centroid join:\n$p")
  }

  test("winsorize broadcasts the per-group bounds back onto the fact") {
    val p = planOf("winsorize_prices")
    assert(p.contains("BroadcastHashJoin"),
      s"bounds join must broadcast (group count is dimension-sized):\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact must not shuffle for the clamp:\n$p")
  }

  test("rollup_revenue prunes lineitem to its four referenced columns") {
    val p = planOf("rollup_revenue")
    val read = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_orderkey")).getOrElse("")
    assert(read.contains("l_extendedprice") && read.contains("l_discount"),
      s"lineitem scan shape unexpected: $read")
    assert(!read.contains("l_comment") && !read.contains("l_shipdate")
      && !read.contains("l_tax"), s"lineitem scan reads unused columns: $read")
  }

  test("quality_catalog: FK rules broadcast, each entity is one scan + a 1-row aggregate") {
    val p = planOf("quality_catalog")
    // FK checks must never sort-merge a fact against a dimension key set
    assert(p.contains("BroadcastHashJoin"), s"FK rules must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"catalog audit must not SMJ:\n$p")
    // one-pass discipline: the whole 35-rule catalog is 6 entity scans
    // (customer, orders, part, supplier, nation, lineitem) + FK-dimension
    // scans (nation x2, customer, region, supplier) — a per-rule pass would
    // multiply the scan count by the rule count
    val scans = p.linesIterator.count(_.trim.startsWith("FileScan parquet"))
    assert(scans <= 12, s"expected <=12 scans (6 entities + FK dims), got $scans:\n$p")
  }

  private def logicalNodes(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.collect {
      case n => n.nodeName
    }

  test("corpus_shuffle never joins the rank table back on the shuffle key") {
    // the id is recovered from the ranked key by substring (the key embeds
    // it after the md5 prefix); a join on _skey would be a corpus-sized
    // shuffle join at scale — only the bounded _pid offset joins remain
    val lp = SparkEntry.queries("corpus_shuffle")(spark, sf).queryExecution.optimizedPlan
    val skeyJoins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.toString.contains("_skey")) => j
    }
    assert(skeyJoins.isEmpty, s"rank join-back on _skey reappeared:\n$lp")
  }

  test("schema_drift profiles both snapshots in ONE aggregate chain (single Expand, no join)") {
    // the side-tagged rewrite: exactly one Expand (multi-distinct) over the
    // unioned snapshots, and the a/b comparison is a conditional-aggregation
    // pivot — two separate profile chains would show two Expands and a join
    val nodes = logicalNodes("schema_drift")
    assert(nodes.count(_ == "Expand") == 1,
      s"expected exactly 1 Expand, got: $nodes")
    assert(!nodes.contains("Join"), s"drift compare must pivot, not self-join: $nodes")
  }

  test("monitor_feed runs ONE annotate pass for zone+rule metrics (one window, one explode)") {
    // the fused zoneRuleMetrics: the quality-annotate subtree (whose marker
    // is the dup-key Window over the orders union) must appear exactly
    // once, feeding a single explode of the per-row metric structs — the
    // old two-part feed planned both twice. Exactly 2 Generates total: the
    // metric explode plus the drift branch's stack reshape.
    val nodes = logicalNodes("monitor_feed")
    assert(nodes.count(_ == "Window") == 1,
      s"expected exactly 1 annotate Window, got: $nodes")
    assert(nodes.count(_ == "Generate") == 2,
      s"expected 2 Generates (metric explode + drift stack), got: $nodes")
  }

  test("embedding_cov_hd: fixed-buffer aggregate — no explode, no join, one ObjectHashAggregate pair") {
    // the high-dim carrier must materialize NO pair rows: a single
    // partial/final ObjectHashAggregate over the scan, then the bounded
    // matrix explodes (one Generate over a 1-row aggregate result)
    val nodes = logicalNodes("embedding_cov_hd")
    assert(!nodes.contains("Join"), s"covariance must never self-join: $nodes")
    val p = planOf("embedding_cov_hd")
    assert(p.contains("ObjectHashAggregate"), s"fixed-buffer aggregate missing:\n$p")
    // the only Generate is the dimension²-sized matrix explode AFTER the
    // aggregate — the corpus itself is never exploded
    assert(p.linesIterator.count(_.contains("Generate")) == 1,
      s"expected exactly 1 post-aggregate Generate:\n$p")
  }

  test("embedding_cov: one scan, pair products map-side, no join, partial agg before the exchange") {
    // the pair fan-out (two chained Generates) must stay map-side and
    // collapse through partial aggregation BEFORE the shuffle — a
    // self-join formulation would exchange the exploded corpus instead of
    // dimension²-sized partials
    val nodes = logicalNodes("embedding_cov")
    assert(!nodes.contains("Join"), s"covariance must never self-join: $nodes")
    assert(nodes.count(_ == "Generate") == 2,
      s"expected 2 chained Generates (component + pair explode), got: $nodes")
    val p = planOf("embedding_cov")
    val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.exists(_.contains("partial_")),
      s"expected map-side partial aggregation:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"expected a single corpus scan:\n$p")
  }

  test("zorder_cluster: value is a broadcast-stats projection — no data-path shuffle, no UDF") {
    // the z-value must cost one scan at any scale: min/max stats flow
    // through a 1-row BroadcastExchange into a nested-loop cross (the
    // audited stats-join shape); the lineitem side itself never exchanges,
    // and the interleave is codegen'd arithmetic, not a Scala UDF
    val p = planOf("zorder_cluster")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge anywhere:\n$p")
    // exactly one Exchange — the SinglePartition final min/max aggregate
    // on the 1-row stats branch; a second would mean the DATA was shuffled
    assert(p.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("BroadcastExchange") && !l.contains("ReusedExchange")) == 1,
      s"expected only the stats branch's SinglePartition exchange:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"interleave must be codegen'd arithmetic:\n$p")
  }

  test("boilerplate_scrub: both df windows share ONE chunk-keyed exchange") {
    // the materialized _hk column makes the two window specs' required
    // distributions attribute-identical; regressing to inline expression
    // keys re-adds a corpus-wide shuffle (measured +18% at sf0.1)
    val p = planOf("boilerplate_scrub")
    assert(p.linesIterator.count(_.trim.startsWith("+- Window")) +
      p.linesIterator.count(_.trim.startsWith(":- Window")) >= 1, s"windows lost:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected exactly the chunk-keyed + doc-keyed exchanges:\n$p")
  }

  test("containment_join and margin_mine pair only in key buckets — never cartesian") {
    // the asymmetric prefix join and the band-bucket join are both
    // equi-joins; a refactor that degrades either to a cartesian (or a
    // nested-loop over the data path) is the quadratic failure mode
    for (q <- Seq("containment_join", "containment_join_hashed", "margin_mine")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q degraded to cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on keys, not a nested loop:\n$p")
    }
  }

  test("sample_priority: distributed top-(k+1), no corpus shuffle or global sort") {
    val p = planOf("sample_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-(k+1) must be per-partition bounded heaps:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the corpus must never shuffle on a key:\n$p")
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("BatchEvalPython"),
      s"priority must be codegen'd arithmetic:\n$p")
  }
}
