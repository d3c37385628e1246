"""Output checks for lakebench runs, computed apart from the program.

Each workload's outputs are compared with DuckDB evaluations over the
same generated input files:

- batch_refresh / wave_refresh: a DuckDB twin of the medallion (the bronze
  adapter, silver and the four gold models, written in DuckDB SQL) gives
  the gold fingerprints, the revenue totals and every dashboard read's
  rows; the wave run's twin covers exactly the events landed by then.
- llm_curation: near-duplicate pairs are re-verified by Jaccard in DuckDB,
  clusters are recomputed as connected components with union-find, the
  kept document per cluster by its quality score, and every IVF hit's
  score by DuckDB's exact cosine.

Numbers are compared exactly. Where the program rounds a quotient to two
decimals (average order value, daily AOV, the rates), the twin rounds the
exact rational half up, in integer arithmetic. The program's customer-360
and daily AOV round a double quotient and miss a half-cent tie whose
double falls below it. The two probe reads (the customer-360 and sales
texts in full, over the day of the seed-independent probe customer, whose
AOV is 1526.35 / 14 = 109.025) show that on every round; they are counted
as failed reads while the fault stands. Seeded reads of those two texts
leave the AOV column out, since whether a seeded customer or day lands on
such a tie depends on the seed.
"""

import json
import os
from collections import namedtuple

import duckdb

Verdict = namedtuple("Verdict", "correct failed notes")

THRESHOLD = 0.5  # the program's LSH verify Jaccard
MAX_PROBLEMS = 8
# The least share of the exact near-duplicate pairs the LSH must report
# (4 bands of 4 MinHash rows find a pair at Jaccard 0.5 with probability
# 0.23, at 0.8 with 0.98); the share was 4532-4875 bps over seeds 1-6.
PAIR_RECALL_FLOOR_BPS = 4000


# ---------------------------------------------------------------- medallion twin

def half_up(num, den, scale=2):
    """SQL for the exact quotient num / den of two non-negative integer
    expressions, rounded half up to `scale` decimals, as a DOUBLE."""
    k = 10 ** scale
    return f"CAST((2 * {k} * ({num}) + ({den})) // (2 * ({den})) AS DOUBLE) / {k}"


def cents(money):
    """SQL for the whole cents of a sum of money values."""
    return f"CAST(SUM(CAST({money} AS DECIMAL(18,2))) * 100 AS BIGINT)"


def medallion_views(con, events_path, landed_last=None):
    """Create the twin's silver/gold views over the events landed by
    `landed_last` (every event when None)."""
    cut = "" if landed_last is None else \
        f"WHERE CAST(ts AS DATE) <= DATE '{landed_last}'"
    con.execute(f"""
    CREATE OR REPLACE VIEW ev AS
      SELECT event_id, ts, user_id, value, CAST(ts AS DATE) AS event_date,
        json_extract_string(props, '$.k') AS product_id,
        CASE event_type WHEN 'view' THEN 'page_view' WHEN 'click' THEN 'add_to_cart'
          ELSE event_type END AS event_type
      FROM read_parquet('{events_path}') {cut};
    CREATE OR REPLACE VIEW attrs AS
      SELECT CAST(user_id AS VARCHAR) AS session_id, CAST(user_id AS VARCHAR) AS customer_id,
        MIN(ts) - INTERVAL 60 SECOND AS start_ts
      FROM ev WHERE user_id % 2 = 0 GROUP BY user_id;
    CREATE OR REPLACE VIEW pm AS
      WITH em AS (
        SELECT event_date, product_id,
          CAST(SUM(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
          CAST(SUM(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END) AS BIGINT) AS cart_count
        FROM ev GROUP BY 1, 2),
      om AS (
        SELECT event_date, product_id,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
          CAST(COUNT(*) AS BIGINT) AS purchase_count
        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT event_date, product_id, 'product_' || product_id AS product_name,
        'cat_' || CAST(CAST(product_id AS BIGINT) % 5 AS VARCHAR) AS category,
        COALESCE(em.view_count, 0) AS view_count, COALESCE(em.cart_count, 0) AS cart_count,
        COALESCE(om.purchase_count, 0) AS purchase_count,
        COALESCE(om.total_revenue, 0.0) AS total_revenue
      FROM em FULL OUTER JOIN om USING (event_date, product_id)
      WHERE product_id IS NOT NULL;
    CREATE OR REPLACE VIEW pf AS
      SELECT *, LEAST(CAST(100.0 AS DOUBLE), CASE WHEN view_count > 0
        THEN {half_up("100 * purchase_count", "view_count")}
        ELSE 0.0 END) AS overall_conversion_pct
      FROM pm;
    CREATE OR REPLACE VIEW sm AS
      WITH sagg AS (
        SELECT CAST(user_id AS VARCHAR) AS session_id,
          MIN(ts) AS start_ev, MAX(ts) AS end_ts, COUNT(*) AS total_events,
          MIN(event_date) AS session_date,
          CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
            AS DECIMAL(18,2))) AS DOUBLE) AS session_revenue,
          {cents("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS session_cents,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS has_purchased
        FROM ev GROUP BY user_id)
      SELECT sagg.session_id, COALESCE(attrs.customer_id, 'UNKNOWN') AS customer_id,
        session_date, COALESCE(start_ev, attrs.start_ts) AS session_start_ts, end_ts,
        total_events, session_revenue, session_cents, has_purchased,
        CAST(FLOOR(epoch(end_ts)) AS BIGINT)
          - CAST(FLOOR(epoch(COALESCE(start_ev, attrs.start_ts))) AS BIGINT) AS duration
      FROM sagg LEFT JOIN attrs USING (session_id);
    CREATE OR REPLACE VIEW smf AS SELECT * FROM sm WHERE duration IS NOT NULL AND duration >= 0;
    CREATE OR REPLACE VIEW c360 AS
      WITH sa AS (
        SELECT customer_id,
          CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          CAST(SUM(session_cents) AS BIGINT) AS revenue_cents,
          CAST(SUM(has_purchased) AS BIGINT) AS orders, MAX(end_ts) AS last_active_ts
        FROM smf GROUP BY customer_id),
      cust AS (SELECT DISTINCT user_id FROM ev)
      SELECT CAST(cust.user_id AS VARCHAR) AS customer_id, 'user_' || CAST(cust.user_id AS VARCHAR) AS name,
        'US' AS country, COALESCE(sa.revenue, 0.0) AS customer_total_revenue,
        CAST(COALESCE(sa.orders, 0) AS BIGINT) AS total_orders, sa.last_active_ts,
        CASE WHEN COALESCE(sa.orders, 0) <> 0 THEN {half_up("sa.revenue_cents", "100 * sa.orders")}
          END AS average_order_value,
        date_diff('day', DATE '2023-01-01' + CAST(cust.user_id % 365 AS INTEGER),
          DATE '2025-01-01') AS days_since_signup
      FROM cust LEFT JOIN sa ON sa.customer_id = CAST(cust.user_id AS VARCHAR);
    """)


def fingerprints(con):
    rows = con.execute("""
      SELECT 'customer_360', COUNT(*), CAST(SUM(CAST(customer_total_revenue AS DECIMAL(18,2))) AS DOUBLE),
        CAST(SUM(total_orders) AS BIGINT) FROM c360
      UNION ALL SELECT 'product_funnel', COUNT(*),
        CAST(SUM(CAST(overall_conversion_pct AS DECIMAL(18,2))) AS DOUBLE),
        CAST(SUM(view_count + cart_count + purchase_count) AS BIGINT) FROM pf
      UNION ALL SELECT 'product_metrics', COUNT(*), CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE),
        CAST(SUM(view_count + cart_count + purchase_count) AS BIGINT) FROM pm
      UNION ALL SELECT 'session_metrics', COUNT(*), CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE),
        CAST(SUM(total_events) AS BIGINT) FROM smf
    """).fetchall()
    return {r[0]: {"n_rows": r[1], "total_money": r[2], "total_units": r[3]} for r in rows}


def revenue(con):
    """Revenue totals from the landed bronze events: every purchase, and
    the purchases of customers that exist (users with a session row)."""
    return con.execute("""
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        CAST(SUM(CAST(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
      FROM ev WHERE event_type = 'purchase'""").fetchone()


DASHBOARDS = {
    "product_performance": f"""
      SELECT category, product_name,
        CAST(SUM(view_count) AS BIGINT) AS total_views, CAST(SUM(cart_count) AS BIGINT) AS total_carts,
        CAST(SUM(purchase_count) AS BIGINT) AS total_purchases,
        CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        CASE WHEN SUM(view_count) = 0 THEN 0.0
          ELSE {half_up("100 * SUM(cart_count)", "SUM(view_count)")} END AS view_to_cart_rate,
        CASE WHEN SUM(cart_count) = 0 THEN 0.0
          ELSE {half_up("100 * SUM(purchase_count)", "SUM(cart_count)")} END AS cart_to_purchase_rate,
        CASE WHEN SUM(view_count) = 0 THEN 0.0
          ELSE {half_up("100 * SUM(purchase_count)", "SUM(view_count)")} END AS overall_conversion_rate
      FROM pm WHERE event_date BETWEEN $s AND $e
      GROUP BY 1, 2 ORDER BY total_revenue DESC, category, product_name LIMIT 100""",
    "sales_overview": f"""
      SELECT session_date, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS total_sessions,
        CAST(SUM(has_purchased) AS BIGINT) AS total_orders,
        ROUND(CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_revenue,
        CASE WHEN SUM(has_purchased) = 0 THEN 0.0
          ELSE {half_up("SUM(session_cents)", "100 * SUM(has_purchased)")} END AS daily_aov,
        CASE WHEN COUNT(DISTINCT session_id) = 0 THEN 0.0
          ELSE {half_up("100 * SUM(has_purchased)", "COUNT(DISTINCT session_id)")} END
          AS session_conversion_rate
      FROM smf WHERE session_date BETWEEN $s AND $e GROUP BY 1 ORDER BY 1 DESC""",
    "site_wide_funnel": """
      SELECT * FROM (
        SELECT '1. Product Views' AS funnel_stage, CAST(COALESCE(SUM(view_count), 0) AS BIGINT) AS "count"
        FROM pm WHERE event_date BETWEEN $s AND $e
        UNION ALL SELECT '2. Add to Carts', CAST(COALESCE(SUM(cart_count), 0) AS BIGINT)
        FROM pm WHERE event_date BETWEEN $s AND $e
        UNION ALL SELECT '3. Purchases', CAST(COALESCE(SUM(purchase_count), 0) AS BIGINT)
        FROM pm WHERE event_date BETWEEN $s AND $e)
      ORDER BY "count" DESC, funnel_stage""",
    "customer_360_top": """
      SELECT customer_id, name, country, total_orders,
        ROUND(customer_total_revenue, 2) AS lifetime_revenue, average_order_value,
        days_since_signup, CAST(last_active_ts AS DATE) AS last_active_date,
        CASE WHEN customer_total_revenue >= 1000 THEN 'Platinum VIP'
          WHEN customer_total_revenue >= 500 THEN 'Gold Member'
          WHEN total_orders > 0 THEN 'Standard Customer' ELSE 'Window Shopper' END AS customer_tier
      FROM c360 WHERE CAST(last_active_ts AS DATE) BETWEEN $s AND $e
      ORDER BY lifetime_revenue DESC, customer_id LIMIT 1000""",
}

# The column a seeded read of each dashboard leaves out (the program drops
# it too): see the module docstring.
SEEDED_DROP = {"customer_360_top": "average_order_value", "sales_overview": "daily_aov"}


def query(con, sql, params=None):
    cur = con.execute(sql, params or {})
    cols = [d[0] for d in cur.description]
    return [{c: norm(v) for c, v in zip(cols, row)} for row in cur.fetchall()]


def norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def compare_rows(kind, expected, actual, where=""):
    """Problems between two ordered row lists, compared value by value."""
    problems = []
    if len(expected) != len(actual):
        return [f"{kind}{where}: {len(actual)} rows, expected {len(expected)}"]
    for i, (e, a) in enumerate(zip(expected, actual)):
        if set(e) != set(a):
            problems.append(f"{kind}{where} row {i}: columns {sorted(a)} != {sorted(e)}")
            continue
        problems += [f"{kind}{where} row {i} {c}: {a[c]!r} != expected {e[c]!r}"
                     for c in e if e[c] != a[c]]
    return problems


def by_id(rows, key):
    return sorted(rows, key=lambda r: int(r[key]))


def check_fingerprints(expected, actual):
    got = {r["relation"]: {k: r[k] for k in ("n_rows", "total_money", "total_units")}
           for r in actual}
    return [f"gold fingerprint {rel}: {got.get(rel)} != expected {exp}"
            for rel, exp in expected.items() if got.get(rel) != exp]


def check_revenue(fps, bronze_total, customer_total):
    """Conservation: purchase revenue in bronze equals the product and the
    session totals; customer_360's total is the revenue of the customers
    that exist."""
    got = {r["relation"]: r["total_money"] for r in fps}
    problems = [f"revenue: {rel} total {got.get(rel)} != bronze purchases {bronze_total}"
                for rel in ("product_metrics", "session_metrics") if got.get(rel) != bronze_total]
    if got.get("customer_360") != customer_total:
        problems.append(f"revenue: customer_360 total {got.get('customer_360')} != "
                        f"existing customers' purchases {customer_total}")
    return problems


def check_probe(kind, expected, actual, where=""):
    """(failed, problems) for a probe read: rows that differ from the twin
    in the AOV column alone are the known rounding fault (a failed read);
    any other difference is a wrong result."""
    col = SEEDED_DROP[kind]
    if expected == actual:
        return False, []
    if len(expected) == len(actual) and all(
            {c for c in e if e[c] != a.get(c)} <= {col} and set(e) == set(a)
            for e, a in zip(expected, actual)):
        return True, []
    return False, compare_rows("probe " + kind, expected, actual, where)


def dashboard_sql(kind, p):
    return DASHBOARDS[kind].replace("$s", f"DATE '{p['start']}'").replace("$e", f"DATE '{p['end']}'")


def check_medallion(workload, scratch, res, params):
    con = connect()
    ev_path = os.path.join(scratch, "inputs", "events.parquet")
    reads = load_reads(scratch)
    problems, failed, probe_notes = [], 0, set()
    views_at = ()  # no views yet
    for rd in reads:
        p = rd["params"]
        landed = p.get("landed_last")
        if landed != views_at:
            medallion_views(con, ev_path, landed)
            views_at = landed
        kind, where = rd["kind"], f" (round {rd['round']}{', wave ' + p['wave'] if 'wave' in p else ''})"
        if kind in DASHBOARDS:
            exp = query(con, dashboard_sql(kind, p))
            for r in exp:
                r.pop(SEEDED_DROP.get(kind), None)
            problems += compare_rows(kind, exp, rd["rows"], where)
        elif kind.startswith("probe_") and kind[6:] in SEEDED_DROP:
            exp = query(con, dashboard_sql(kind[6:], p))
            bad, pr = check_probe(kind[6:], exp, rd["rows"], where)
            failed += bad
            problems += pr
            if bad:
                col = SEEDED_DROP[kind[6:]]
                probe_notes.add(f"{kind[6:]} {col} {rd['rows'][0][col]} != exact {exp[0][col]}")
        elif kind == "totals":
            bronze_total, customer_total = revenue(con)
            exp = [{"product_revenue": bronze_total, "session_revenue": bronze_total,
                    "customer_revenue": customer_total}]
            problems += compare_rows("revenue totals", exp, rd["rows"], where)
        elif kind == "event_lookup":
            exp = query(con, f"""SELECT CAST(event_id AS VARCHAR) AS event_id, event_type,
              value AS amount_usd, event_date FROM ev WHERE event_id IN ({p['ids']})""")
            problems += compare_rows(kind, by_id(exp, "event_id"), by_id(rd["rows"], "event_id"),
                                     where)
        elif kind == "order_lookup":
            exp = query(con, f"""SELECT CAST(event_id AS VARCHAR) AS order_id,
              CAST(user_id AS VARCHAR) AS customer_id, value AS total_usd, event_date AS order_date
              FROM ev WHERE event_type = 'purchase' AND event_id IN ({p['ids']})""")
            problems += compare_rows(kind, by_id(exp, "order_id"), by_id(rd["rows"], "order_id"),
                                     where)
        else:
            problems.append(f"unknown read kind {kind}")
    # gold after the last op: the batch refresh's tables, or the maintained
    # gold after the last wave (IVM == recompute over every landed event)
    medallion_views(con, ev_path, res["info"].get("landed_last"))
    with open(os.path.join(scratch, "gold_fingerprints.json")) as f:
        fps = json.load(f)
    problems += check_fingerprints(fingerprints(con), fps)
    problems += check_revenue(fps, *revenue(con))
    notes = [f"lakebench: {workload}: {res['rounds']} round(s) of {res['ops_per_round']} ops, "
             f"{len(reads)} reads checked against DuckDB, {failed} failed"]
    notes += [f"lakebench: probe {n} (a failed read each round)" for n in sorted(probe_notes)]
    return problems, failed, notes


# ---------------------------------------------------------------- LLM curation

def shingles(con, docs_path):
    """Table `sh` (doc_id, s): each document's distinct 3-word shingles."""
    con.execute(f"""
      CREATE OR REPLACE TABLE sh AS
      WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                   FROM read_parquet('{docs_path}'))
      SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
        ELSE [] END) AS s FROM tok""")


def shingle_jaccard(con, pairs):
    """DuckDB's Jaccard of the shingle sets (table `sh`) of each (doc_a, doc_b)."""
    con.execute("CREATE OR REPLACE TABLE pr (doc_a BIGINT, doc_b BIGINT)")
    if pairs:
        con.executemany("INSERT INTO pr VALUES (?, ?)", [(p["doc_a"], p["doc_b"]) for p in pairs])
    rows = con.execute("""
      SELECT doc_a, doc_b, CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        CAST(len(list_distinct(list_cat(a.s, b.s))) AS DOUBLE)
      FROM pr JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b""").fetchall()
    return {(a, b): j for a, b, j in rows}


def exact_pairs(con):
    """Every document pair whose shingle sets (table `sh`) have Jaccard >=
    THRESHOLD, found by joining documents on shared shingles."""
    return set(con.execute(f"""
      WITH x AS (SELECT doc_id, unnest(s) AS g FROM sh),
      n AS (SELECT doc_id, len(s) AS n FROM sh),
      i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT doc_a, doc_b FROM i JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= {THRESHOLD}""").fetchall())


def check_recall(pairs, exact, floor):
    """(problems, recall in bps): the share of the exact near-duplicate
    pairs the program reported (every reported pair is checked against the
    exact set by check_pairs), which must not fall below `floor`."""
    got = {(p["doc_a"], p["doc_b"]) for p in pairs} & exact
    bps = len(got) * 10000 // len(exact) if exact else 10000
    return ([] if bps >= floor else
            [f"near-dup pairs: {len(got)} of the {len(exact)} pairs with Jaccard >= {THRESHOLD} "
             f"({bps} bps), below the floor of {floor} bps"]), bps


def check_pairs(pairs, jaccard):
    problems, seen = [], set()
    for p in pairs:
        key = (p["doc_a"], p["doc_b"])
        if key[0] >= key[1] or key in seen:
            problems.append(f"pair {key}: not a distinct ordered pair")
        seen.add(key)
        j = jaccard.get(key)
        if j is None or j < THRESHOLD or p["jaccard"] != j:
            problems.append(f"pair {key}: jaccard {p['jaccard']} vs DuckDB {j} (threshold {THRESHOLD})")
    return problems


def components(pairs):
    """node -> smallest node of its connected component (union-find)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for p in pairs:
        a, b = find(p["doc_a"]), find(p["doc_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {x: find(x) for x in parent}


def check_clusters(pairs, labels):
    want = components(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in labels}
    if len(got) != len(labels):
        return ["clusters: a document has more than one label"]
    return [f"cluster of doc {d}: {got.get(d)} != connected component {c}"
            for d, c in sorted(want.items()) if got.get(d) != c] + \
        [f"doc {d} labelled but in no verified pair" for d in sorted(set(got) - set(want))]


def check_kept(labels, kept, score):
    """One row per cluster; its size; the kept document is the cluster's
    best by score (ties to the smaller id)."""
    members = {}
    for r in labels:
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])
    problems = []
    if sorted(r["cluster_id"] for r in kept) != sorted(members):
        problems.append(f"keep-best: {len(kept)} cluster rows for {len(members)} clusters")
    for r in kept:
        docs = members.get(r["cluster_id"], [])
        best = min(docs, key=lambda d: (-score[d], d)) if docs else None
        if (r["kept_doc_id"], r["cluster_size"], r["n_dropped"]) != (best, len(docs), len(docs) - 1):
            problems.append(f"keep-best cluster {r['cluster_id']}: kept {r['kept_doc_id']} of "
                            f"{r['cluster_size']} (dropped {r['n_dropped']}), expected {best} of {len(docs)}")
    return problems


def exact_cosines(con, inputs_dir, hits):
    """DuckDB's exact cosine (left-fold doubles, as the program) per hit."""
    con.execute("CREATE OR REPLACE TABLE hits (query_id BIGINT, neighbor_id BIGINT)")
    if hits:
        con.executemany("INSERT INTO hits VALUES (?, ?)",
                        sorted({(h["query_id"], h["neighbor_id"]) for h in hits}))
    dot = ("list_reduce(list_transform(range(1, len({x}) + 1), "
           "i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE), (p, q) -> p + q)")
    cos = (f"{dot.format(x='q.qe', y='e.embedding')} / (sqrt({dot.format(x='q.qe', y='q.qe')})"
           f" * sqrt({dot.format(x='e.embedding', y='e.embedding')}))")
    rows = con.execute(f"""
      SELECT h.query_id, h.neighbor_id, {cos}
      FROM hits h JOIN read_parquet('{inputs_dir}/queries.parquet') q USING (query_id)
      JOIN read_parquet('{inputs_dir}/embeddings.parquet') e ON e.vec_id = h.neighbor_id""").fetchall()
    return {(q, n): c for q, n, c in rows}


def check_hits(rows, cosine, queries, k):
    """Every query has k hits ranked 1..k in score order, each scored by
    the exact cosine."""
    problems = []
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    if sorted(by_q) != sorted(queries):
        problems.append(f"ivf: hits for queries {sorted(by_q)[:5]}..., expected {sorted(queries)[:5]}...")
    for q, hs in by_q.items():
        hs = sorted(hs, key=lambda r: r["rank"])
        if [h["rank"] for h in hs] != list(range(1, k + 1)):
            problems.append(f"ivf query {q}: ranks {[h['rank'] for h in hs]}, expected 1..{k}")
        for a, b in zip(hs, hs[1:]):
            if (-a["cos_sim"], a["neighbor_id"]) >= (-b["cos_sim"], b["neighbor_id"]):
                problems.append(f"ivf query {q}: rank {a['rank']} and {b['rank']} out of score order")
        for h in hs:
            c = cosine.get((q, h["neighbor_id"]))
            if h["cos_sim"] != c:
                problems.append(f"ivf query {q} hit {h['neighbor_id']}: score {h['cos_sim']} != exact {c}")
    return problems


def recall_bps(con, inputs_dir, rows, k):
    """Hits among DuckDB's exact top-k, in basis points (integer, as qs09)."""
    exact = con.execute(f"""
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.query_id
          ORDER BY list_cosine_similarity(list_transform(q.qe, x -> x::DOUBLE),
            list_transform(e.embedding, x -> x::DOUBLE)) DESC, e.vec_id) AS rk
        FROM read_parquet('{inputs_dir}/queries.parquet') q,
          read_parquet('{inputs_dir}/embeddings.parquet') e) WHERE rk <= {k}""").fetchall()
    truth = set(exact)
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    return len(truth & got) * 10000 // len(truth)


def check_llm(scratch, res, params, k=5):
    con = connect()
    inputs_dir = os.path.join(scratch, "inputs")

    def load(name):
        with open(os.path.join(scratch, name)) as f:
            return json.load(f)
    pairs, labels, kept = load("pairs.json"), load("labels.json"), load("kept.json")
    shingles(con, f"{inputs_dir}/documents.parquet")
    problems = check_pairs(pairs, shingle_jaccard(con, pairs))
    pr, pair_bps = check_recall(pairs, exact_pairs(con), PAIR_RECALL_FLOOR_BPS)
    problems += pr
    problems += check_clusters(pairs, labels)
    score = dict(con.execute(
        f"SELECT doc_id, length(text) FROM read_parquet('{inputs_dir}/documents.parquet')").fetchall())
    problems += check_kept(labels, kept, score)
    reads = load_reads(scratch)
    cos = exact_cosines(con, inputs_dir, [h for rd in reads for h in rd["rows"]])
    n_q = params["query_batches"] * params["batch_size"]
    for rnd in sorted({rd["round"] for rd in reads}):
        rows = [h for rd in reads if rd["round"] == rnd for h in rd["rows"]]
        problems += check_hits(rows, cos, range(n_q), k)
    last = max(rd["round"] for rd in reads)
    recall = recall_bps(con, inputs_dir, [h for rd in reads if rd["round"] == last for h in rd["rows"]], k)
    clusters = len({r["cluster_id"] for r in labels})
    notes = [f"lakebench: llm_curation: {res['rounds']} round(s); {len(pairs)} verified pairs "
             f"({pair_bps} bps of the exact Jaccard >= {THRESHOLD} pairs), {clusters} clusters "
             f"over {params['docs']} docs; IVF recall@{k} vs DuckDB exact top-{k}: {recall} bps"]
    return problems, 0, notes, {"recall_bps": recall, "pair_recall_bps": pair_bps}


# ---------------------------------------------------------------- entry

def load_reads(scratch):
    with open(os.path.join(scratch, "reads.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def check(workload, scratch, res, params):
    """Verdict(correct, failed operations, notes) for one run."""
    extra = {}
    if workload == "llm_curation":
        problems, failed, notes, extra = check_llm(scratch, res, params)
    else:
        problems, failed, notes = check_medallion(workload, scratch, res, params)
    notes += [f"lakebench: CHECK FAILED: {p}" for p in problems[:MAX_PROBLEMS]]
    if len(problems) > MAX_PROBLEMS:
        notes.append(f"lakebench: ... and {len(problems) - MAX_PROBLEMS} more problems")
    v = Verdict(not problems, failed, notes)
    return v, extra
