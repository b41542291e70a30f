"""The workloads, their metrics, and the closed loop that runs them.

One client -- this thread -- drives a ``local[<cores>]`` session; the
next operation starts only after the previous one finished and was
checked. Each workload has a warm-up (part of set-up) and an operation:

- ``scrape_churn``: one ``pipeline.scrape_all`` of a generated tree into
  a DuckDB file. The first FIRST_SCRAPES operations each scrape into a
  fresh empty table (all inserts); each later one follows a seeded churn
  step.
- ``query_llm`` and ``query_relational``: one registered query: build
  the DataFrame (including any Spark jobs the build fires), then write
  it to the ``noop`` sink. Each operation reads its own fresh copy of
  the fixture, so no memo or on-disk spill keyed on the path can serve
  it. A pass is one operation per query in the workload's list; a
  query_llm run is one pass, a query_relational run makes passes until
  its time is up.

``scrape_churn`` is not in BENCHMARK.json (see NOT_BENCHMARKED): every
one of its scrapes fails the check at present. It still runs by name.

In a traced run, probes also time the layers one at a time: after each
scrape (``_probe_scrape``) and before the pass (``_probe_tables``).
They run outside the timed operations.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from checks import (
    diff_model,
    diff_tables,
    digest,
    oracle_digests,
    read_external_file,
)
from gen_tables import write_fixture
from gen_tree import Tree, scrape_time

from file_scraper_spark.tables import TABLE_NAMES

LLM = (
    "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard", "dedup_clusters",
    "dedup_embedding", "similarity_topk", "text_redact", "text_quality",
    "text_ccnet_buckets", "doc_fingerprint",
)
RELATIONAL = (
    "agg_groupby", "join_family", "window_rank", "rollup_cube", "tpch_q3_shape",
    "tpch_q5_shape", "range_join", "asof_join", "sessionize", "topk_sort_limit",
    "merge_upsert", "union_seen",
)

#: generated tree size for scrape_churn, and for its warm-up scrape
TREE_FILES = 400
WARM_TREE_FILES = 40
#: fixture scale for the query workloads, and for their warm-up operation
QUERY_SF = 0.01
WARM_SF = 0.001
#: query_relational makes at least this many passes (one cold, one warm)
MIN_PASSES = 2
#: a scrape_churn run starts with this many all-insert scrapes, each
#: into a fresh empty DB, and then makes at least MIN_RESCRAPES churn
#: scrapes
FIRST_SCRAPES = 3
MIN_RESCRAPES = 3
IDENTIFIER = "perfbench:tree"

END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_s": "s",
    "peak_rss_mb": "MB",
}

_OPERATOR_TOTALS = ("shuffle_write_bytes", "spill_bytes", "python_worker_s",
                    "arrow_bytes_sent", "arrow_bytes_returned")
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "sources.fs.list_s": "s",
    "sources.fs.scrape_s": "s",
    "sources.fs.stat_s": "s",
    "sources.fs.files_listed": "count",
    "sources.fs.tasks": "count",
    "sinks.merge_sink.readback_s": "s",
    "sinks.merge_sink.spark_jobs": "count",
    "sinks.merge_sink.db_s": "s",
    "sinks.merge_sink.first_db_s": "s",
    "sinks.merge_sink.rows_inserted": "count",
    "sinks.merge_sink.rows_updated": "count",
    "sinks.merge_sink.rows_unchanged": "count",
    "sinks.merge_sink.rows_soft_deleted": "count",
    "sinks.merge_sink.rows_restamped": "count",
    "tables.scan_s": "s",
    **{f"operators.{q}.{m}": u for q in LLM + RELATIONAL
       for m, u in (("build_s", "s"), ("run_s", "s"), ("build_jobs", "count"))},
    **{f"operators.{k}": ("s" if k.endswith("_s") else "bytes")
       for k in _OPERATOR_TOTALS},
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Base: inputs, warm-up, one operation, and the layer tallies."""

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.layers: dict[str, list[float]] = {}
        self.mismatches: dict[str, int] = {}
        self.details: dict[str, list] = {}  # printed with the sample counts

    def note(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)


class ScrapeChurn(Workload):
    def generate(self) -> None:
        self.tree = Tree(os.path.join(self.work, "tree"), self.seed)
        self.tree.populate(TREE_FILES)
        self.warm = Tree(os.path.join(self.work, "warm-tree"), self.seed + 1)
        self.warm.populate(WARM_TREE_FILES)
        self.db = os.path.join(self.work, "external_file.duckdb")

    def _sink(self, db: str):
        import duckdb  # noqa: PLC0415

        from file_scraper_spark.sinks.merge_sink import MergeSink  # noqa: PLC0415

        return MergeSink(lambda: duckdb.connect(db))

    def warmup(self, spark, queries) -> None:
        from file_scraper_spark.pipeline import scrape_all  # noqa: PLC0415

        scrape_all(spark, [self.warm.root], self._sink(self.db + ".warm"),
                   identifier=IDENTIFIER, scrape_time=scrape_time(0))

    def run(self, spark, queries, seconds: float) -> tuple[list[float], int, int]:
        """FIRST_SCRAPES scrapes of the tree, each into a fresh empty DB,
        then churn steps, each followed by a scrape into the last of those
        DBs, until ``seconds`` have passed and MIN_RESCRAPES churn scrapes
        are done; returns (scrape times, attempted, failed)."""
        from file_scraper_spark.pipeline import scrape_all  # noqa: PLC0415

        times: list[float] = []
        failed = 0
        deadline = time.perf_counter() + seconds
        op = 0
        while op < FIRST_SCRAPES + MIN_RESCRAPES or time.perf_counter() < deadline:
            k = max(0, op - FIRST_SCRAPES + 1)  # earlier scrapes into this DB
            if k == 0:
                db = f"{self.db}.{op}"
                sink = self._sink(db)
            else:
                self.tree.churn()
            twin = db + ".twin"
            if self.tracer.enabled:
                before = read_external_file(db) if k else {}
                if k:
                    shutil.copyfile(db, twin)
            error = None
            with self.tracer.span("pipeline.scrape_all", op=op, spark_jobs=True) as s:
                t0 = time.perf_counter()
                try:
                    scrape_all(spark, [self.tree.root], sink,
                               identifier=IDENTIFIER, scrape_time=scrape_time(k))
                except Exception as e:  # noqa: BLE001 -- counted as a failed op
                    error = e
                    self.details.setdefault("errors", []).append(repr(e))
                dt = time.perf_counter() - t0
            times.append(dt)
            if op == 0 or k > 0:  # a repeated first scrape expects the same table
                self.tree.apply_scrape()
            after = read_external_file(db) if error is None else {}
            bad = diff_model(after, self.tree, IDENTIFIER)
            for kind, n in bad.items():
                self.mismatches[kind] = self.mismatches.get(kind, 0) + n
            if error is not None or any(bad.values()):
                failed += 1
            if self.tracer.enabled and error is None:
                self.note("sinks.merge_sink.spark_jobs", s.counts["jobs"])
                for kind, n in diff_tables(before, after).items():
                    self.note(f"sinks.merge_sink.rows_{kind}", n)
                self._probe_scrape(spark, op, k, dt, twin)
            op += 1
        return times, op, failed

    def _probe_scrape(self, spark, op: int, k: int, scrape_all_s: float,
                      twin: str) -> None:
        """Time the layers of the scrape just made, one at a time, on the
        same tree: listing, fs scrape with and without the stat kernel,
        and the sink's merge of the same rows into a twin of the DB as
        it was before the scrape. The read-back is what is left."""
        from file_scraper_spark.sinks.merge_sink import FILE_COLUMNS  # noqa: PLC0415
        from file_scraper_spark.sources.fs import list_files, scrape_fs  # noqa: PLC0415

        tr, root = self.tracer, self.tree.root
        with tr.span("sources.fs.list", op=op, spark_jobs=True) as s_list:
            _noop(list_files(spark, root))
        with tr.span("sources.fs.scrape", op=op, spark_jobs=True) as s_scrape:
            _noop(scrape_fs(spark, root, IDENTIFIER))
        with tr.span("sources.fs.scrape_nostat", op=op, spark_jobs=True) as s_nostat:
            _noop(scrape_fs(spark, root, IDENTIFIER, created_from_stat=False))
        rows = [tuple(r) for r in
                scrape_fs(spark, root, IDENTIFIER).select(*FILE_COLUMNS).collect()]
        if k == 0 and os.path.exists(twin):
            os.remove(twin)
        sink = self._sink(twin)
        sink.ensure_target()
        with tr.span("sinks.merge_sink.sync_rows", op=op) as s_db:
            sink.sync_rows(rows, IDENTIFIER, scrape_time(k))
        self.note("sources.fs.list_s", s_list.seconds)
        self.note("sources.fs.scrape_s", s_scrape.seconds)
        self.note("sources.fs.stat_s", s_scrape.seconds - s_nostat.seconds)
        self.note("sources.fs.files_listed", len(rows))
        self.note("sources.fs.tasks", s_scrape.counts["tasks"])
        self.note("sinks.merge_sink.first_db_s" if k == 0 else "sinks.merge_sink.db_s",
                  s_db.seconds)
        self.note("sinks.merge_sink.readback_s",
                  scrape_all_s - s_scrape.seconds - s_db.seconds)

    def end_to_end(self, times: list[float]) -> dict[str, float]:
        return {"first_op_s": _median(times[:FIRST_SCRAPES]),
                "op_s": _median(times[FIRST_SCRAPES:])}

    def per_layer(self) -> dict[str, float]:
        out = {}
        for name, xs in self.layers.items():
            out[name] = sum(xs) if ".rows_" in name else _median(xs)
        return out


class QueryWorkload(Workload):
    """Passes over ``names``: build each query on a fresh fixture copy,
    write it to noop, check it against its oracle."""

    names: tuple[str, ...] = ()
    #: the warm-up operation: this query on a small fixture
    warm_query = ""

    def generate(self) -> None:
        self.fixture = os.path.join(self.work, "fixture")
        write_fixture(self.fixture, self.seed, QUERY_SF)
        self.warm_fixture = os.path.join(self.work, "warm-fixture")
        write_fixture(self.warm_fixture, self.seed + 1, WARM_SF)
        self.oracles = oracle_digests(self.fixture, list(self.names))
        self.totals: dict[str, list[float]] = {}

    def _fresh_copy(self, tag: str) -> str:
        return shutil.copytree(self.fixture, os.path.join(self.work, "ops", tag))

    def warmup(self, spark, queries) -> None:
        _noop(queries[self.warm_query](spark, self.warm_fixture))

    def _check(self, q: str, df) -> bool:
        got = digest(df.columns, [tuple(r) for r in df.collect()])
        ok = got == self.oracles[q]
        if not ok:
            self.mismatches[q] = self.mismatches.get(q, 0) + 1
        return ok

    def more_passes(self, passes: list[float], deadline: float) -> bool:
        raise NotImplementedError

    def run(self, spark, queries, seconds: float) -> tuple[list[float], int, int]:
        """Passes over the list while ``more_passes`` says so; returns
        (pass times, attempted, failed)."""
        attempted = failed = 0
        if self.tracer.enabled:
            self._probe_tables(spark)
        passes: list[float] = []
        deadline = time.perf_counter() + seconds
        while self.more_passes(passes, deadline):
            pass_s, ok = self._pass(spark, queries, len(passes))
            passes.append(pass_s)
            attempted += len(self.names)
            failed += len(self.names) - ok
        return passes, attempted, failed

    def _pass(self, spark, queries, n: int) -> tuple[float, int]:
        """One operation per query; returns (build plus run time, number
        of operations that ran and matched their oracle)."""
        tr = self.tracer
        totals = dict.fromkeys(_OPERATOR_TOTALS, 0.0)
        pass_s = 0.0
        ok = 0
        for i, q in enumerate(self.names):
            op = n * len(self.names) + i
            d = self._fresh_copy(f"{q}-{n}")
            t_op = time.perf_counter()
            try:
                with tr.span(f"operators.{q}.build", op=op, spark_jobs=True) as sb:
                    t0 = time.perf_counter()
                    df = queries[q](spark, d)
                    build = time.perf_counter() - t0
                with tr.span(f"operators.{q}.run", op=op, spark_jobs=True) as sr:
                    t0 = time.perf_counter()
                    _noop(df)
                    run = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 -- counted as a failed op
                self.details.setdefault("errors", []).append(f"{q}: {e!r}")
                pass_s += time.perf_counter() - t_op
                self.mismatches[q] = self.mismatches.get(q, 0) + 1
                continue
            pass_s += build + run
            self.details.setdefault("build_run_s", []).append((q, build, run))
            if tr.enabled:
                self.note(f"operators.{q}.build_s", sb.seconds)
                self.note(f"operators.{q}.run_s", sr.seconds)
                self.note(f"operators.{q}.build_jobs", sb.counts["jobs"])
                for key in _OPERATOR_TOTALS:
                    totals[key] += sb.counts[key] + sr.counts[key]
            ok += self._check(q, df)
        if tr.enabled:
            for key, v in totals.items():
                self.totals.setdefault(f"operators.{key}", []).append(v)
        return pass_s, ok

    def _probe_tables(self, spark) -> None:
        """Scan every fixture table through ``tables.load`` on a fresh
        copy, each written to the noop sink."""
        from file_scraper_spark.tables import load  # noqa: PLC0415

        d = self._fresh_copy("scan")
        scan_s = 0.0
        with self.tracer.span("tables.scan"):
            for t in TABLE_NAMES:
                with self.tracer.span(f"tables.load.{t}", spark_jobs=True) as s:
                    _noop(load(spark, d, t))
                scan_s += s.seconds
        self.note("tables.scan_s", scan_s)

    def end_to_end(self, passes: list[float]) -> dict[str, float]:
        return {"first_op_s": passes[0], "op_s": _median(passes[1:] or passes)}

    def per_layer(self) -> dict[str, float]:
        """Medians over passes; the operator totals are per pass."""
        layers = {**self.layers, **self.totals}
        return {name: _median(xs) for name, xs in layers.items()}


class QueryLlm(QueryWorkload):
    """One pass, whatever ``seconds`` says: a cold pass takes most of the
    run length, and a warm second pass in some runs only would mix two
    kinds of sample. So ``op_s`` is the same sample as ``first_op_s``."""

    names = LLM
    #: a cheap query whose kernel runs in Python workers, so set-up
    #: starts the worker daemon
    warm_query = "text_redact"

    def more_passes(self, passes: list[float], deadline: float) -> bool:
        return not passes


class QueryRelational(QueryWorkload):
    """At least MIN_PASSES passes, and more until ``seconds`` have
    passed: the first pass is the first run of most queries in the
    process, the later ones are warm."""

    names = RELATIONAL
    warm_query = "agg_groupby"

    def more_passes(self, passes: list[float], deadline: float) -> bool:
        return len(passes) < MIN_PASSES or time.perf_counter() < deadline


WORKLOADS = {
    "scrape_churn": ScrapeChurn,
    "query_llm": QueryLlm,
    "query_relational": QueryRelational,
}

#: workloads BENCHMARK.json leaves out, and why
NOT_BENCHMARKED = {
    "scrape_churn": "every scrape fails its check: sources.fs.list_files "
                    "drops zero-byte files, and the tree holds some",
}
