"""Correctness gates: one comparator per workload.

Each comparator takes plain Python values (rows already collected from
Spark, goldens already built by the oracle) and returns a list of mismatch
descriptions; an empty list means the output is correct. They never touch
Spark, so the benchmark's tests can feed them perturbed goldens directly.
"""

from __future__ import annotations

MAX_REPORTED = 5


def _diff_sets(what: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    missing, extra = sorted(want - got, key=repr), sorted(got - want, key=repr)
    return [f"{what}: {len(missing)} missing, {len(extra)} unexpected; "
            f"first missing {missing[:2]}, first unexpected {extra[:2]}"]


def per_host_order(crawl_order) -> dict[str, list[tuple]]:
    """host_key -> [(url, depth, attempts, ok)] in crawl_seq order."""
    out: dict[str, list[tuple]] = {}
    for r in sorted(crawl_order, key=lambda x: x["crawl_seq"]):
        out.setdefault(r["host_key"], []).append(
            (r["url"], r["depth"], r["attempts"], r["ok"]))
    return out


def span_tuples(spans) -> tuple:
    """Spans as comparable tuples; accepts oracle dicts or Spark Rows."""
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans or [])


def check_crawl(got: dict, want: dict) -> list[str]:
    """Bucketed multi-round crawl against the oracle (the t3 invariants):
    seen set, per-host crawl order, documents with their spans, and final
    frontier states. Cross-host crawl_seq interleaving may differ by
    design, so the global order is not compared.

    Both sides are dicts with ``seen`` (iterable of (url, host_key)),
    ``crawl_order`` (dicts with crawl_seq, host_key, url, depth, attempts,
    ok), ``documents`` (dicts with doc_id, validity_score, spans) and
    ``frontier`` (dicts with url, state, fail_count)."""
    errs = _diff_sets("seen set", set(got["seen"]), set(want["seen"]))
    g_order, w_order = (per_host_order(got["crawl_order"]),
                        per_host_order(want["crawl_order"]))
    bad_hosts = sorted(h for h in set(g_order) | set(w_order)
                       if g_order.get(h) != w_order.get(h))
    if bad_hosts:
        h = bad_hosts[0]
        errs.append(f"per-host order differs on {len(bad_hosts)} hosts; "
                    f"first {h}: got {g_order.get(h, [])[:3]}... "
                    f"want {w_order.get(h, [])[:3]}...")

    def docs(rows):
        return {d["doc_id"]: (d["validity_score"], span_tuples(d["spans"]))
                for d in rows}
    g_docs, w_docs = docs(got["documents"]), docs(want["documents"])
    errs += _diff_sets("document ids", set(g_docs), set(w_docs))
    bad_docs = sorted(k for k in set(g_docs) & set(w_docs)
                      if g_docs[k] != w_docs[k])
    if bad_docs:
        errs.append(f"documents differ in score or spans: {len(bad_docs)}; "
                    f"first {bad_docs[0]}")

    def states(rows):
        return {r["url"]: (r["state"], r["fail_count"]) for r in rows}
    g_f, w_f = states(got["frontier"]), states(want["frontier"])
    bad_f = sorted(u for u in set(g_f) | set(w_f) if g_f.get(u) != w_f.get(u))
    if bad_f:
        errs.append(f"frontier end state differs on {len(bad_f)} urls; first "
                    f"{bad_f[0]}: got {g_f.get(bad_f[0])} "
                    f"want {w_f.get(bad_f[0])}")
    return errs[:MAX_REPORTED]


def check_rows(name: str, got_cols, got_rows, want_cols, want_rows
               ) -> list[str]:
    """A registry row's result against its DuckDB oracle, judged as
    tools/check_oracle.py judges it: same column names, same row count, not
    empty on both sides (its vacuity gate), and the same rows in any order
    after its normalisation (floats to 6 dp, matched by column name)."""
    from tools.check_oracle import norm_rows, vacuous
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{name}: {len(got_rows)} rows vs oracle {len(want_rows)}"]
    if vacuous(name, len(got_rows)):
        return [f"{name}: 0 rows on both sides proves nothing"]
    g, w = norm_rows(got_cols, got_rows), norm_rows(want_cols, want_rows)
    if g == w:
        return []
    return [f"{name}: values differ, e.g. "
            f"{[(a, b) for a, b in zip(g, w) if a != b][:2]}"]
