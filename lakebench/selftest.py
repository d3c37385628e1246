#!/usr/bin/env python3
"""Self-test of the lakebench checkers: every checker must accept a correct
result and reject the same result with one value changed.

    python3 lakebench/selftest.py

Needs no JVM: the "program outputs" here are built independently (DuckDB
twin, union-find, exact cosine) over small generated inputs, then mutated.
Exits 1 if any checker accepts a mutated result or rejects a correct one.
"""

import copy
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

failures = []


def expect(name, problems, ok):
    good = (not problems) == ok
    print(f"{'ok  ' if good else 'FAIL'} {name}: {'accepted' if not problems else 'rejected'}"
          + ("" if not problems else f" ({problems[0]})"))
    if not good:
        failures.append(name)


def cents(x, k=1):
    return round(x + k * 0.01, 2)


def medallion(tmp):
    d = os.path.join(tmp, "batch")
    base = dict(inputs.BASE, events=3000, days=3, users=60)
    inputs._write("batch_refresh", 7, d, inputs.SIZES["batch_refresh"], base)
    con = checks.connect()
    checks.medallion_views(con, os.path.join(d, "events.parquet"))

    exp = checks.fingerprints(con)
    got = [dict(relation=k, **v) for k, v in exp.items()]
    expect("gold fingerprints, as computed", checks.check_fingerprints(exp, got), True)
    bad = copy.deepcopy(got)
    bad[2]["total_money"] = cents(bad[2]["total_money"])
    expect("gold fingerprints, one cent off a gold total",
           checks.check_fingerprints(exp, bad), False)

    total, customers = checks.revenue(con)
    expect("revenue conservation, as computed", checks.check_revenue(got, total, customers), True)
    expect("revenue conservation, one cent off the bronze total",
           checks.check_revenue(got, cents(total), customers), False)

    window = {"start": "2024-01-01", "end": "2024-01-03"}
    rows = checks.query(con, checks.dashboard_sql("product_performance", window))
    expect("dashboard rows, as computed", checks.compare_rows("pp", rows, rows), True)
    bad = copy.deepcopy(rows)
    bad[5]["total_revenue"] = cents(bad[5]["total_revenue"])
    expect("dashboard rows, one cent off one revenue", checks.compare_rows("pp", rows, bad), False)
    bad = copy.deepcopy(rows)
    bad[3]["view_to_cart_rate"] = cents(bad[3]["view_to_cart_rate"])
    expect("dashboard rows, one rate off by 0.01", checks.compare_rows("pp", rows, bad), False)
    expect("dashboard rows, one row dropped", checks.compare_rows("pp", rows, rows[:-1]), False)

    # the twin rounds the exact quotient half up: the probe's AOV is
    # 1526.35 / 14 = 109.025 -> 109.03, where rounding the double gives 109.02
    probe = {"start": inputs.PROBE_DAY.date().isoformat(), "end": inputs.PROBE_DAY.date().isoformat()}
    for kind, col in checks.SEEDED_DROP.items():
        exp = checks.query(con, checks.dashboard_sql(kind, probe))
        expect(f"probe {kind}: exact {col} is 109.03",
               [] if [r[col] for r in exp] == [109.03] else [f"{exp}"], True)
        failed, problems = checks.check_probe(kind, exp, exp)
        expect(f"probe {kind}, as computed", problems + (["counted failed"] if failed else []), True)
        failed, problems = checks.check_probe(kind, exp, [dict(exp[0], **{col: 109.02})])
        expect(f"probe {kind}, the double's rounding counted as a failed read",
               problems + ([] if failed else ["not counted"]), True)
        other = next(c for c, v in exp[0].items() if isinstance(v, float) and c != col)
        failed, problems = checks.check_probe(kind, exp, [dict(exp[0], **{other: cents(exp[0][other])})])
        expect(f"probe {kind}, one cent off {other}", problems, False)


def curation(tmp):
    d = os.path.join(tmp, "llm")
    inputs._write("llm_curation", 7, d, dict(inputs.SIZES["llm_curation"], families=12,
                                               copies=1, vectors=120, query_batches=1,
                                               batch_size=6))
    con = checks.connect()
    docs = os.path.join(d, "documents.parquet")
    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{docs}')").fetchone()[0]
    every = [{"doc_a": a, "doc_b": b} for a in range(n) for b in range(a + 1, n)]
    checks.shingles(con, docs)
    jac = checks.shingle_jaccard(con, every)
    pairs = [{"doc_a": a, "doc_b": b, "jaccard": j} for (a, b), j in sorted(jac.items())
             if j >= checks.THRESHOLD]
    expect("near-dup pairs, as computed", checks.check_pairs(pairs, jac), True)
    bad = copy.deepcopy(pairs)
    bad[0]["jaccard"] += 0.01
    expect("near-dup pairs, one jaccard changed", checks.check_pairs(bad, jac), False)
    low = min((k for k, j in jac.items() if j < checks.THRESHOLD), key=lambda k: jac[k])
    expect("near-dup pairs, one pair below the threshold",
           checks.check_pairs(pairs + [{"doc_a": low[0], "doc_b": low[1], "jaccard": jac[low]}],
                              jac), False)

    exact = checks.exact_pairs(con)
    expect("exact near-dup pairs, as the pairwise Jaccard gives them",
           [] if exact == {(p["doc_a"], p["doc_b"]) for p in pairs} else ["differ"], True)
    expect("pair recall, every pair", checks.check_recall(pairs, exact, 10000)[0], True)
    expect("pair recall, one pair dropped", checks.check_recall(pairs[1:], exact, 10000)[0], False)
    expect("pair recall, no pair", checks.check_recall([], exact, 1)[0], False)

    labels = [{"doc_id": k, "cluster_id": v} for k, v in sorted(checks.components(pairs).items())]
    expect("clusters, as computed", checks.check_clusters(pairs, labels), True)
    bad = copy.deepcopy(labels)
    i = next(i for i, r in enumerate(bad) if r["doc_id"] != r["cluster_id"])
    bad[i]["cluster_id"] = bad[i]["doc_id"]
    expect("clusters, one wrong cluster label", checks.check_clusters(pairs, bad), False)

    score = dict(con.execute(f"SELECT doc_id, length(text) FROM read_parquet('{docs}')").fetchall())
    members = {}
    for r in labels:
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])
    kept = [{"cluster_id": c, "cluster_size": len(m), "n_dropped": len(m) - 1,
             "kept_doc_id": min(m, key=lambda x: (-score[x], x))} for c, m in sorted(members.items())]
    expect("keep-best, as computed", checks.check_kept(labels, kept, score), True)
    bad = copy.deepcopy(kept)
    big = next(r for r in bad if r["cluster_size"] > 1)
    big["kept_doc_id"] = next(x for x in members[big["cluster_id"]] if x != big["kept_doc_id"])
    expect("keep-best, another document kept", checks.check_kept(labels, bad, score), False)

    # exact top-5 for every query over the whole corpus, scored as the checker does
    qs = [r[0] for r in con.execute(
        f"SELECT query_id FROM read_parquet('{d}/queries.parquet')").fetchall()]
    nv = con.execute(f"SELECT COUNT(*) FROM read_parquet('{d}/embeddings.parquet')").fetchone()[0]
    cos = checks.exact_cosines(con, d, [{"query_id": q, "neighbor_id": v}
                                        for q in qs for v in range(nv)])
    rows = []
    for q in qs:
        top = sorted(range(nv), key=lambda v: (-cos[(q, v)], v))[:5]
        rows += [{"query_id": q, "neighbor_id": v, "rank": i + 1, "cos_sim": cos[(q, v)]}
                 for i, v in enumerate(top)]
    expect("top-k hits, as computed", checks.check_hits(rows, cos, qs, 5), True)
    expect("top-k hits, one hit dropped", checks.check_hits(rows[:3] + rows[4:], cos, qs, 5), False)
    bad = copy.deepcopy(rows)
    bad[1]["cos_sim"] = bad[1]["cos_sim"] * (1 + 1e-9)
    expect("top-k hits, one score changed", checks.check_hits(bad, cos, qs, 5), False)
    bad = copy.deepcopy(rows)
    bad[0]["rank"], bad[1]["rank"] = 2, 1
    expect("top-k hits, two hits out of score order", checks.check_hits(bad, cos, qs, 5), False)
    expect("recall, exact hits", [] if checks.recall_bps(con, d, rows, 5) == 10000 else ["<10000"],
           True)


def main():
    base = os.path.join(HERE, ".scratch")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=base, prefix="selftest-")
    try:
        medallion(tmp)
        curation(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(failures)} failure(s)" + (": " + ", ".join(failures) if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
