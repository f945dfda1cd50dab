"""Output checks of the benchmark, run after the measured process exits.

Each check compares what graft wrote (zone files, stage reports) with
figures derived independently from the generated inputs, with DuckDB.
A check is a dict {"name", "ok", "detail"}.
"""
import duckdb


def _count(con, path):
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
    ).fetchone()[0]


def _check(name, got, want):
    return {"name": name, "ok": got == want, "detail": f"got {got}, want {want}"}


def dwh_expected(con, day_dir, prior_customer):
    """Row counts one Pipeline.runAll over `day_dir` must produce, on top
    of zones that already hold the load of the `prior_customer` snapshot.

    The quality rules: a null custkey, a custkey absent from the day's
    customer snapshot, a non-positive price, and every copy after the first
    of an order key. Facts keep the clean orders and their lines; the SCD2
    customer dimension holds one version per customer and snapshot whose
    attributes changed."""
    q = lambda sql: con.execute(sql).fetchone()[0]
    o, c, l = (f"'{day_dir}/{t}.parquet'" for t in ("orders", "customer", "lineitem"))
    con.execute(f"""CREATE OR REPLACE TEMP VIEW flagged AS
        SELECT o_orderkey,
               o_custkey IS NULL AS null_custkey,
               o_custkey IS NOT NULL AND o_custkey NOT IN (SELECT c_custkey FROM {c}) AS fk_customer,
               o_totalprice <= 0 AS nonpositive_price,
               row_number() OVER (PARTITION BY o_orderkey) > 1 AS duplicate_key
        FROM {o}""")
    con.execute("""CREATE OR REPLACE TEMP VIEW clean AS SELECT o_orderkey FROM flagged
        WHERE NOT (null_custkey OR fk_customer OR nonpositive_price OR duplicate_key)""")
    exp = {"raw": q(f"SELECT count(*) FROM {o}"), "clean": q("SELECT count(*) FROM clean")}
    exp["error"] = exp["raw"] - exp["clean"]
    exp["fact_lineitem"] = q(
        f"SELECT count(*) FROM {l} WHERE l_orderkey IN (SELECT o_orderkey FROM clean)")
    exp["rules"] = {r: q(f"SELECT count(*) FROM flagged WHERE {r}") for r in
                    ("null_custkey", "fk_customer", "nonpositive_price", "duplicate_key")}
    exp["zone_stats"] = (exp["clean"] > 0) + (exp["error"] > 0)
    p = f"'{prior_customer}'"
    exp["dim_customer"] = q(f"SELECT count(*) FROM {p}") + q(f"""
        SELECT count(*) FROM {c} n LEFT JOIN {p} b USING (c_custkey)
        WHERE b.c_custkey IS NULL
           OR n.c_name IS DISTINCT FROM b.c_name
           OR n.c_nationkey IS DISTINCT FROM b.c_nationkey
           OR n.c_acctbal IS DISTINCT FROM b.c_acctbal
           OR n.c_mktsegment IS DISTINCT FROM b.c_mktsegment""")
    return exp


def check_dwh(res, inputs, manifest):
    """Every iteration's stage report, then the zones the last one left.
    Each iteration loads the delta day on top of the base day's zones."""
    con = duckdb.connect()
    zones = res["zones"]
    iterations = res["iterations"]
    e = dwh_expected(con, f"{inputs}/delta", prior_customer=f"{inputs}/base/customer.parquet")
    checks = []
    for it in iterations:
        if not it["ok"]:
            continue
        rows = {r["stage"]: r["rows"] for r in it["report"]}
        want = {"stage_raw": e["raw"], "quality": e["clean"],
                "transform_load": e["clean"] + e["fact_lineitem"],
                "report": e["zone_stats"]}
        checks.append(_check(f"iter{it['iter']}.stage_rows", rows, want))
    if iterations and iterations[-1]["ok"]:
        for zone, key in (("clean/orders", "clean"), ("error/orders", "error"),
                          ("dwh/fact_orders", "clean"), ("dwh/fact_lineitem", "fact_lineitem")):
            checks.append(_check(f"zone.{zone}", _count(con, f"{zones}/{zone}"), e[key]))
        # the SCD2 dimension spans both snapshots
        checks.append(_check("zone.dwh/dim_customer",
                             _count(con, f"{zones}/dwh/dim_customer"), e["dim_customer"]))
        audit = dict(con.execute(f"SELECT rule, n_violations FROM read_parquet("
                                 f"'{zones}/report/rule_audit/*.parquet')").fetchall())
        want = {k: v for k, v in e["rules"].items() if v}
        checks.append(_check("zone.report/rule_audit", audit, want))
    f = manifest["delta_faults"]
    planted = {"null_custkey": f["null_custkey"], "fk_customer": f["unknown_custkey"],
               "nonpositive_price": f["nonpositive_price"],
               "duplicate_key": f["duplicate_orderkey"]}
    checks.append(_check("planted_faults_found", e["rules"], planted))
    return checks


# The curation pipeline's stage counts, derived from the documents alone
# after the definition in the repository's corpus_report oracle: the
# quality gate (at least 30 tokens, stop-word share at least 0.05,
# repeated-bigram share at most 0.2, signals rounded to 6 places), the
# per-source cap of 120 by md5 rank, exact dedup keeping the least id per
# normalized text, and near-duplicate clusters of 3-shingle Jaccard >= 0.8
# keeping one document each. The oracle joins every pair of documents; this
# form finds the same pairs through shared shingles, which takes seconds
# where the oracle takes a minute at these sizes.
CORPUS_SURVIVORS = r"""
WITH d0 AS (SELECT doc_id, source, nfc_normalize(text) AS text FROM documents),
t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM d0),
q AS (SELECT doc_id, len(w) AS n_tokens,
    round(CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
      AS DOUBLE) / len(w), 6) AS stop_ratio FROM t),
grams AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
  FROM t WHERE len(w) >= 2),
agg AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
  FROM grams GROUP BY doc_id),
gated AS (SELECT d0.* FROM d0 JOIN q USING (doc_id) LEFT JOIN agg USING (doc_id)
  WHERE NOT coalesce(q.n_tokens < 30, FALSE)
    AND NOT coalesce(q.stop_ratio < 0.05, FALSE)
    AND NOT coalesce(round(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 6) > 0.2, FALSE)),
capped AS (SELECT * FROM gated QUALIFY row_number() OVER (PARTITION BY source
    ORDER BY md5(CAST(doc_id AS VARCHAR)) || CAST(doc_id AS VARCHAR)) <= 120)
SELECT doc_id, text, (SELECT count(*) FROM d0) AS n_ingest,
  (SELECT count(*) FROM gated) AS n_gated, (SELECT count(*) FROM capped) AS n_capped
FROM capped WHERE doc_id IN (SELECT min(doc_id) FROM capped
  GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
"""
NEAR_PAIRS = r"""
WITH sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
    for i in range(1, len(w) - 1)]) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM exd)
  WHERE len(w) >= 3),
inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY ALL)
SELECT doc_a, doc_b FROM shared
  JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
WHERE round(CAST(n AS DOUBLE) / (len(sa.s) + len(sb.s) - n), 6) >= 0.8
"""
CORPUS_STAGES = ["ingest", "quality_gate", "source_cap", "dedup", "span_scrub",
                 "tokenizer", "ppl_buckets", "shard_write"]


def corpus_golden(con):
    """Stage -> rows the curation pipeline must report over the view
    `documents`; the stages after dedup annotate and never drop rows."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE exd AS {CORPUS_SURVIVORS}")
    docs = [r[0] for r in con.execute("SELECT doc_id FROM exd").fetchall()]
    parent = {d: d for d in docs}

    def root(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d
    for a, b in con.execute(NEAR_PAIRS).fetchall():
        parent[max(root(a), root(b))] = min(root(a), root(b))
    clusters = sum(1 for d in docs if root(d) == d)
    n = con.execute("SELECT any_value(n_ingest), any_value(n_gated), any_value(n_capped) "
                    "FROM exd").fetchone()
    return dict(zip(CORPUS_STAGES, list(n) + [clusters] * 5))


def check_corpus(res, inputs, manifest):
    """Every iteration's stage report must equal the seed's golden report,
    which DuckDB derives from the documents on its own (corpus_golden).
    The zones the last iteration left must hold no exact duplicate and no
    planted exact clone whose original was kept."""
    con = duckdb.connect()
    zones = res["zones"]
    iterations = res["iterations"]
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{inputs}/corpus/documents.parquet'")
    golden = corpus_golden(con)
    info = manifest["documents"]
    checks = [_check("golden.ingest_keeps_every_document", golden["ingest"],
                     info["documents"] + info["exact_clones"] + info["near_clones"])]
    for it in iterations:
        if it["ok"]:
            rows = {r["stage"]: r["rows"] for r in it["report"]}
            checks.append(_check(f"iter{it['iter']}.stage_rows", rows, golden))
    if iterations and iterations[-1]["ok"]:
        d = f"read_parquet('{zones}/deduped/documents/*.parquet')"
        c = f"read_parquet('{zones}/capped/documents/*.parquet')"
        dup_texts = con.execute(
            f"SELECT count(*) - count(DISTINCT text) FROM {d}").fetchone()[0]
        checks.append(_check("deduped.no_exact_duplicates", dup_texts, 0))
        con.execute("CREATE OR REPLACE TEMP TABLE clones(doc_id BIGINT)")
        if info["exact_clone_ids"]:
            con.executemany("INSERT INTO clones VALUES (?)",
                            [(i,) for i in info["exact_clone_ids"]])
        # a planted clone whose original reached dedup must be dropped there
        kept = con.execute(f"""SELECT count(*) FROM clones k
            JOIN {d} x ON x.doc_id = k.doc_id
            WHERE x.text IN (SELECT text FROM {c} WHERE doc_id < k.doc_id)""").fetchone()[0]
        checks.append(_check("deduped.planted_exact_clones_removed", kept, 0))
    return checks
