"""The benchmark's workloads. Each one writes its seeded inputs and their
golden, runs the program through its public entry points, checks the result
against the golden, and, in a traced run, reports per-layer metrics.

A workload's ``run_once`` returns an ``Outcome``: the op wall, the time to
its first result, the step samples (round intervals or per-row walls) and
the number of items done. Golden generation belongs to set-up and output
checks come after the measured repetitions, so neither is in a timing.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import gates, inputs
from perfbench.metrics import DEDUP_ROWS
from perfbench.spans import Tracer, driver_only_time, self_time


@dataclass
class Outcome:
    wall_s: float
    first_result_s: float
    steps_s: list[float]
    items: int
    # what check() needs to read the result back
    handle: object = None
    layers: dict = field(default_factory=dict)


def _noop(df) -> None:
    """Force the whole plan of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _spans_named(tracer: Tracer, name: str):
    return [s for s in tracer.spans() if s.name == name]


def _span_sum(tracer: Tracer, name: str) -> float:
    return sum(s.wall for s in _spans_named(tracer, name))


class CrawlRounds:
    """engine.run_rounds(delta_state, bucketed, use_bloom) into a fresh
    SnapshotStore, per-bucket budget 1: one large round, then a tail of
    single-task rounds (see inputs.crawl_graph)."""

    name = "crawl_rounds"
    item_unit = "crawl-order rows"
    TARGET_ROWS, CLEARNET = 120, 3
    # a set-up is about 2 s, and the oracle's share of it varies by seed
    SETUP_TRIALS = 5

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.in_dir = os.path.join(work_dir, "inputs")
        self.store_root = os.path.join(work_dir, "stores")
        self._runs = 0

    def make_inputs(self) -> None:
        from genesis_spark.sources import fixtures
        seeds, pages, self.want = inputs.crawl_graph(
            self.seed, self.TARGET_ROWS, self.CLEARNET)
        fixtures.write_parquet(seeds, pages, self.in_dir)

    def _read(self, spark):
        return (spark.read.parquet(f"{self.in_dir}/seeds.parquet"),
                spark.read.parquet(f"{self.in_dir}/web_pages.parquet"))

    def warm_up(self, spark) -> None:
        seeds, pages = self._read(spark)
        seeds.count()
        pages.count()

    def _store(self, tracer: Tracer | None):
        from genesis_spark.sources.tables import SnapshotStore
        self._runs += 1
        root = os.path.join(self.store_root, f"run-{self._runs}")
        shutil.rmtree(root, ignore_errors=True)
        if tracer is None:
            return SnapshotStore(root)

        class TracedStore(SnapshotStore):
            """Commit and read of the program's store, each as a span;
            commits also record the parquet bytes and files they wrote."""
            written: list[tuple[int, int]] = []

            def commit(self, tables, meta):
                with tracer.span("tables.commit"):
                    sid = super().commit(tables, meta)
                TracedStore.written.append(
                    _dir_bytes_files(self._snap_dir(sid)))
                return sid

            def read(self, spark, table, as_of=None):
                with tracer.span("tables.read"):
                    return super().read(spark, table, as_of)

        TracedStore.written = []
        return TracedStore(root)

    def run_once(self, spark, tracer: Tracer | None = None) -> Outcome:
        from genesis_spark.crawler import engine
        from genesis_spark.operators import bloom
        from genesis_spark.sources.tables import SnapshotStore
        seeds, pages = self._read(spark)
        store = self._store(tracer)
        patched = []
        span = tracer.span if tracer else lambda _: nullcontext()
        if tracer is not None:
            for mod, attr, label in (
                    (engine, "crawl_frontier", "engine.crawl_frontier"),
                    (engine, "with_global_seq", "seq.with_global_seq"),
                    (bloom, "build_bloom", "bloom.build_bloom")):
                patched.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, tracer.wrap(label, getattr(mod, attr)))
        try:
            t0 = time.time()
            with span("engine.run_rounds"):
                engine.run_rounds(spark, seeds, pages, store, host_budget=1,
                                  delta_state=True, bucketed=True,
                                  use_bloom=True)
            wall = time.time() - t0
        finally:
            for mod, attr, orig in patched:
                setattr(mod, attr, orig)
        plain = SnapshotStore(store.root)           # untraced reads
        commits = [m["committed_at"] for m in plain.snapshots()
                   if m["round"] >= 0]
        rows = plain.read(spark, "crawl_order").count()
        return Outcome(wall, commits[0] - t0,
                       [b - a for a, b in zip(commits, commits[1:])],
                       rows, handle=store)

    def check(self, spark, out: Outcome) -> list[str]:
        from genesis_spark.crawler import engine
        from genesis_spark.sources.tables import SnapshotStore
        store = SnapshotStore(out.handle.root)      # untraced reads
        got = {
            "seen": {(r.url, r.host_key) for r in
                     store.read(spark, "seen").select("url", "host_key")
                     .collect()},
            "crawl_order": [r.asDict() for r in
                            store.read(spark, "crawl_order").select(
                                "crawl_seq", "host_key", "url", "depth",
                                "attempts", "ok").collect()],
            "documents": [r.asDict() for r in
                          store.read(spark, "documents").select(
                              "doc_id", "validity_score", "spans").collect()],
            "frontier": [r.asDict() for r in
                         engine.read_frontier_delta(spark, store).select(
                             "url", "state", "fail_count").collect()],
        }
        return gates.check_crawl(got, self.want)

    def layer_metrics(self, spark, tracer: Tracer, out: Outcome):
        """Per-layer figures from the traced op, plus isolated forced calls
        for the layers whose work is lazy inside the op."""
        from genesis_spark.crawler import engine
        from genesis_spark.functions import urls as U
        from genesis_spark.functions.parse import parse_pages
        from genesis_spark.sources.tables import SnapshotStore
        written = type(out.handle).written
        store = SnapshotStore(out.handle.root)      # untraced reads
        seeds, pages = self._read(spark)
        rounds = len(out.steps_s) + 1
        m = {}
        with tracer.span("isolated.install") as sp:
            _noop(engine.install_seeds_scaled(seeds, 1))
        m["engine.install_s"] = sp.wall
        links = (pages.select(F.explode("out_links").alias("url"))
                 .filter(F.col("url").startswith("http")))
        seen = store.read(spark, "seen").select("url")
        with tracer.span("isolated.seen_probe") as sp:
            _noop(links.join(seen, "url", "left_anti"))
        m["engine.seen_probe_s"] = sp.wall
        docs = store.read(spark, "documents")
        extracted = (docs.filter(F.col("depth") < 2)
                     .agg(F.sum(F.size("sub_url"))).first()[0])
        m["engine.admit_ratio"] = (store.read(spark, "seen").count()
                                   / max(1, extracted))
        ok_pages = pages.filter((F.col("status") == 200)
                                & F.col("html").isNotNull())
        n_pages = ok_pages.count()
        with tracer.span("isolated.parse_pages") as parse_sp:
            n_spans = (parse_pages(ok_pages, url_col="url", html_col="html")
                       .agg(F.sum(F.size("spans"))).first()[0])
        m["parse.spans_out"] = n_spans
        m["parse.pages_per_s"] = n_pages / parse_sp.wall
        urls = links.union(pages.select("url"))
        n_urls = urls.count()
        with tracer.span("isolated.canonicalize") as sp:
            _noop(urls.select(U.canonicalize_expr(F.col("url"))))
        m["urls.canonicalize_rows_per_s"] = n_urls / sp.wall
        tracer.collect()

        (root,) = _spans_named(tracer, "engine.run_rounds")
        tot = tracer.subtree_totals(root)
        m["engine.crawl_frontier_s"] = sum(
            self_time(s) for s in _spans_named(tracer,
                                               "engine.crawl_frontier"))
        m["engine.jobs_per_round"] = tot["jobs"] / rounds
        m["engine.stages_per_round"] = tot["stages"] / rounds
        m["engine.tasks_per_round"] = tot["tasks"] / rounds
        m["engine.driver_only_s"] = driver_only_time(root)
        m["parse.task_s"] = parse_sp.totals["task_s"]
        m["seq.global_seq_s"] = _span_sum(tracer, "seq.with_global_seq")
        m["seq.calls"] = len(_spans_named(tracer, "seq.with_global_seq"))
        m["bloom.build_s"] = _span_sum(tracer, "bloom.build_bloom")
        m["bloom.builds"] = len(_spans_named(tracer, "bloom.build_bloom"))
        m["tables.commit_s"] = _span_sum(tracer, "tables.commit")
        m["tables.read_s"] = _span_sum(tracer, "tables.read")
        m["tables.bytes_per_round"] = sum(b for b, _ in written) / rounds
        m["tables.files_per_round"] = sum(f for _, f in written) / rounds
        return m, root


class DedupPairs:
    """The banded pair-join registry rows over a seeded documents table,
    each collected and checked against its registry DuckDB oracle."""

    name = "dedup_pairs"
    item_unit = "documents x pair rows"
    ROWS = DEDUP_ROWS
    N_DOCS = 500
    # a set-up is about 4 s, most of it the DuckDB goldens
    SETUP_TRIALS = 3

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.in_dir = os.path.join(work_dir, "inputs")

    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(self.in_dir, exist_ok=True)
        cols = inputs.documents(self.seed, self.N_DOCS)
        pq.write_table(pa.table({
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }), f"{self.in_dir}/documents.parquet")
        self.want = self._golden()

    def warm_up(self, spark) -> None:
        spark.read.parquet(f"{self.in_dir}/documents.parquet").count()

    def run_once(self, spark, tracer: Tracer | None = None) -> Outcome:
        from genesis_spark.queries import QUERIES
        results, walls = {}, []
        span = tracer.span if tracer else lambda _: nullcontext()
        t0 = time.time()
        first = None
        with span("dedup.pairs"):
            for row in self.ROWS:
                t = time.time()
                with span(f"dedup.{row}"):
                    df = QUERIES[row](spark, self.in_dir)
                    rows = df.collect()
                walls.append(time.time() - t)
                first = first or time.time() - t0
                results[row] = (df, df.columns, [tuple(r) for r in rows])
        wall = time.time() - t0
        return Outcome(wall, first, walls, self.N_DOCS * len(self.ROWS),
                       handle=results)

    def _golden(self) -> dict:
        """Each row's registry DuckDB oracle over the same parquet file."""
        import duckdb

        from genesis_spark.queries import ORACLES
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{self.in_dir}/documents.parquet'")
            want = {}
            for row in self.ROWS:
                rel = con.execute(ORACLES[row])
                want[row] = ([d[0] for d in rel.description], rel.fetchall())
            return want
        finally:
            con.close()

    def check(self, spark, out: Outcome) -> list[str]:
        errs = []
        for row, (_, cols, rows) in out.handle.items():
            w_cols, w_rows = self.want[row]
            errs += gates.check_rows(row, cols, rows, w_cols, w_rows)
        return errs

    def layer_metrics(self, spark, tracer: Tracer, out: Outcome):
        tracer.collect()
        m = {}
        exchanges = shuffle = spill = 0
        for row, (df, _, _) in out.handle.items():
            (sp,) = _spans_named(tracer, f"dedup.{row}")
            m[f"dedup.{row}_s"] = sp.wall
            tot = tracer.subtree_totals(sp)
            shuffle += tot["shuffle_write_bytes"]
            spill += tot["spill_bytes"]
            plan = df._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]     # AQE prints both
            exchanges += sum(1 for line in final.splitlines()
                             if _is_exchange(line))
        m["dedup.exchanges"] = exchanges
        m["dedup.shuffle_write_bytes"] = shuffle
        m["dedup.spill_bytes"] = spill
        (root,) = _spans_named(tracer, "dedup.pairs")
        return m, root


def _is_exchange(plan_line: str) -> bool:
    """True for a physical-plan line whose node is a shuffle or broadcast
    Exchange. A ReusedExchange runs nothing and is not counted."""
    node = plan_line.lstrip(" :+-*()0123456789").split(" ", 1)[0]
    return node.endswith("Exchange") and node != "ReusedExchange"


WORKLOADS = {w.name: w for w in (CrawlRounds, DedupPairs)}
