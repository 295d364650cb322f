"""The two workloads. Each one makes its inputs untimed, prepares them,
warms up untimed, runs its operation in a closed loop (one client,
the next call only after the previous one returns) for the measured
seconds, and checks its outputs untimed.

* ``build`` — ``pipeline.run_pipeline`` over a page corpus; every run's
              output is checked after the timed loop, with a recall of an
              identifier it wrote. Its traced run also drives
              the incremental write path: ``streaming.assimilate_batch``
              into a growing graph directory, a recall after each batch,
              and a replayed batch that must append nothing.
* ``query`` — passes over the 16 ``bench.HEADLINE`` queries on the fixed
              sf0.1 tables, each built through
              ``__spark_entry__.queries()`` and run into a ``noop`` sink.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import inputs
import metrics

BUILD_PAGES, BUILD_FILL = 1000, 32
ASSIM_BATCH, ASSIM_FILL, ASSIM_BATCHES = 1000, 8, 2


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """Shared state: the session, the tracer, the work directory, and the
    per-operation samples the metrics are computed from."""

    name = ""
    min_steps = 1

    def __init__(self, ctx):
        self.ctx = ctx  # run.Context: spark, tracer, seed, cache, work, cores
        self.failures: list[str] = []
        self.attempted = 0
        self.op_s: list[float] = []  # one latency per timed operation
        self.items = 0  # pages (or query executions) completed in timed operations
        self.summary: dict = {}

    @property
    def spark(self):
        return self.ctx.spark

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def generate(self) -> None:
        """Make the seeded inputs, or find them in the cache (untimed)."""

    def timed(self, seconds: float) -> None:
        """Steps back to back until ``seconds`` have passed and at least
        ``min_steps`` were made."""
        t0 = time.perf_counter()
        n = 0
        while True:
            self.step()
            n += 1
            if n >= self.min_steps and time.perf_counter() - t0 >= seconds:
                break

    def finish(self) -> None:
        """Untimed work after the timed loop, while the session is up."""

    def e2e(self) -> dict[str, float]:
        return {
            "throughput_per_s": self.items / sum(self.op_s),
            "op_p50_s": statistics.median(self.op_s),
        }


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _spans_layer(prefix: str, spans: list[dict], keys: dict[str, str]) -> dict[str, float]:
    return {f"{prefix}{out}": _median(s.get(k, 0) for s in spans) for out, k in keys.items()}


# ------------------------------------------------------------------ build
class Build(Workload):
    name = "build"
    min_steps = 2  # one run_pipeline call takes about as long as --seconds

    def generate(self) -> None:
        c = self.ctx
        self.pages_path = inputs.pages_dir(c.cache, BUILD_PAGES, BUILD_FILL, c.seed, BUILD_PAGES, 2 * c.cores)

    def prepare(self) -> None:
        self.pages = self.spark.read.parquet(os.path.join(self.pages_path, "batch-00000"))
        if self.pages.count() != BUILD_PAGES:
            self.fail("build corpus has the wrong page count")

    def warm_up(self) -> None:
        from nous_spark.pipeline import run_pipeline

        run_pipeline(self.spark, self.pages, os.path.join(self.ctx.work, "warm"))
        self.runs: list[dict] = []
        self.lookups: list[dict] = []

    def step(self) -> None:
        """One operation: a ``run_pipeline`` call."""
        from nous_spark.pipeline import run_pipeline

        c = self.ctx
        out = os.path.join(c.work, f"run-{len(self.runs)}")
        c.tracer.new_trace()
        self.attempted += 1
        with c.tracer.span("pipeline.run_pipeline") as sp:
            run_pipeline(self.spark, self.pages, out)
        sp["out"] = out
        self.op_s.append(sp["s"])
        self.items += BUILD_PAGES
        self.runs.append(sp)

    def check_runs(self) -> None:
        """Every timed run's output: P/R of the first, the same content
        hashes in all of them (and as in earlier runs with this seed), and
        a recall of a different identifier from each."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        first = None
        for k, sp in enumerate(self.runs):
            out = sp["out"]
            ledger = pq.read_table(os.path.join(out, "metrics"), partitioning=None).to_pylist()
            sp["ledger"] = {
                r["stage"]: (r["started_at"].timestamp(), r["finished_at"].timestamp(), r["rows_out"])
                for r in ledger
            }
            sp["bytes"] = du(out)
            edge_type = pq.read_table(os.path.join(out, "graph_edges"), columns=["edge_type"]).column(0)
            sp["has_fact"] = pc.sum(pc.equal(edge_type, "HAS_FACT")).as_py()
            hashes = checks.content_hashes(
                self.spark, out, {t: f"graph_{t}" for t in checks.GRAPH_TABLES}
            )
            if first is None:
                first = hashes
                self.ctx.expect_same(f"build-hashes-n{BUILD_PAGES}-f{BUILD_FILL}", hashes, self.fail)
                p, r = checks.precision_recall(out, BUILD_PAGES, self.ctx.seed)
                self.summary.update(precision=p, recall=r)
                if p < 0.95 or r < 0.95:
                    self.fail(f"P/R {p:.4f}/{r:.4f} below 0.95")
            elif hashes != first:
                self.fail(f"graph content hashes differ between runs: {hashes} vs {first}")
            page = [i for i in range(BUILD_PAGES) if checks.is_lookup_page(i)][k * 7]
            self.lookup(out, "graph_edges", "graph_facts", page)

    def finish(self) -> None:
        """The checks of every timed run; then, in the traced phase only,
        the incremental write path and the extraction functions on the
        build corpus. Successive batches
        go through ``assimilate_batch`` into a growing graph directory,
        each followed by a recall of an identifier it wrote; then the
        first batch is replayed and must append nothing."""
        self.check_runs()
        if not self.ctx.tracer.enabled:
            return
        c = self.ctx
        path = inputs.pages_dir(
            c.cache, ASSIM_BATCH * ASSIM_BATCHES, ASSIM_FILL, c.seed, ASSIM_BATCH, c.cores
        )
        graph = os.path.join(c.work, "graph")
        shutil.rmtree(graph, ignore_errors=True)
        self.batches = []
        for k in range(ASSIM_BATCHES):
            c.tracer.new_trace()
            self.batches.append(self._assimilate(path, k, graph))
            page = [i for i in range(k * ASSIM_BATCH, (k + 1) * ASSIM_BATCH) if checks.is_lookup_page(i)][k]
            self.lookup(graph, "edges", "facts", page)
        c.tracer.new_trace()
        self.replay = self._assimilate(path, 0, graph)
        if any(self.replay["appended"].values()):
            self.fail(f"replayed batch appended rows: {self.replay['appended']}")
        self.graph_bytes = du(graph)
        c.tracer.new_trace()
        self.extraction = self.extraction_layer()

    def _assimilate(self, path: str, k: int, graph: str) -> dict:
        from nous_spark.streaming import assimilate_batch

        self.attempted += 1
        pages = self.spark.read.parquet(os.path.join(path, f"batch-{k:05d}"))
        with self.ctx.tracer.span("streaming.assimilate_batch") as sp:
            sp["appended"] = assimilate_batch(pages, graph)
        sp["rows_appended"] = sum(sp["appended"].values())
        return sp

    def extraction_layer(self) -> dict[str, float]:
        """Single-threaded in-process calls on every page of the build corpus."""
        import pyarrow.parquet as pq
        from nous_spark.extraction.html import extract_text_str
        from nous_spark.extraction.mentions import extract_mentions_text
        from nous_spark.extraction.triples import extract_triples_text

        html: list[bytes] = []
        for root, _, files in sorted(os.walk(self.pages_path)):
            for f in sorted(files):
                html += pq.read_table(os.path.join(root, f), columns=["html"]).column(0).to_pylist()
        t = self.ctx.tracer
        with t.span("extraction.extract_text_str") as s_html:
            texts = [extract_text_str(h) for h in html]
        with t.span("extraction.extract_mentions_text") as s_men:
            n_men = sum(len(extract_mentions_text(x)) for x in texts)
        with t.span("extraction.extract_triples_text") as s_tri:
            n_tri = sum(len(extract_triples_text(x)) for x in texts)
        return {
            "extraction.html_s": s_html["s"],
            "extraction.mentions_s": s_men["s"],
            "extraction.triples_s": s_tri["s"],
            "extraction.mentions_out": n_men,
            "extraction.triples_out": n_tri,
        }

    def lookup(self, graph_dir: str, edges: str, facts: str, page: int) -> None:
        """Recall the facts of page ``page``'s identifier and check them."""
        id_type, id_value, want = checks.lookup_identifier(page, self.ctx.seed)
        self.attempted += 1
        with self.ctx.tracer.span("graph.entity_facts") as sp:
            got = checks.recall(self.spark, graph_dir, edges, facts, id_type, id_value)
        sp["rows"] = len(got)
        self.lookups.append(sp)
        if got != want:
            self.fail(f"recall {id_type}:{id_value}: got {sorted(got)}, want {sorted(want)}")

    def e2e(self) -> dict[str, float]:
        wall = sum(self.op_s)
        self.summary.update(
            pages_per_s=self.items / wall,
            triples_per_s=sum(s["has_fact"] for s in self.runs) / wall,
            runs=len(self.runs),
            run_s=self.op_s,
        )
        return super().e2e()

    def layers(self) -> dict[str, float]:
        out = dict(self.extraction)
        for st in metrics.PIPELINE_STAGES:
            out[f"pipeline.{st}_s"] = _median(r["ledger"][st][1] - r["ledger"][st][0] for r in self.runs)
            out[f"pipeline.{st}_rows"] = self.runs[-1]["ledger"][st][2]
        out.update(
            _spans_layer(
                "pipeline.run.",
                self.runs,
                {k: k for k in metrics.SPAN_COUNTERS},
            )
        )
        from tracing import union_s

        out["pipeline.bytes_written_per_page"] = _median(r["bytes"] for r in self.runs) / BUILD_PAGES
        out["pipeline.wall_s"] = _median(r["s"] for r in self.runs)
        out["pipeline.stage_union_s"] = _median(
            union_s([(a, b) for a, b, _ in r["ledger"].values()]) for r in self.runs
        )
        out.update(
            _spans_layer(
                "streaming.",
                self.batches,
                {"assimilate_batch_s": "s", "jobs_per_batch": "jobs",
                 "executor_cpu_s_per_batch": "executor_cpu_s",
                 "shuffle_write_bytes_per_batch": "shuffle_write_bytes",
                 "rows_appended_per_batch": "rows_appended"},
            )
        )
        out["streaming.replay_rows_appended"] = self.replay["rows_appended"]
        out["streaming.bytes_written_per_page"] = self.graph_bytes / (ASSIM_BATCH * ASSIM_BATCHES)
        out.update(
            _spans_layer("graph.lookup_", self.lookups, {"s": "s", "jobs": "jobs", "rows": "rows"})
        )
        return out


# ------------------------------------------------------------------ query
class Query(Workload):
    name = "query"

    def prepare(self) -> None:
        self.sf_dir = inputs.SF_DIR

    def warm_up(self) -> None:
        """Build and collect every query once and compare each result with
        its DuckDB oracle: the untimed correctness check. The queries run
        ``cores`` at a time: run one by one, this cold pass alone took about
        twice as long as a timed pass, which the benchmark's time budget
        does not allow."""
        import duckdb

        import __spark_entry__ as entry
        from bench import HEADLINE

        self.names = list(HEADLINE)
        self.builders = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in inputs.TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )

        def check(name: str) -> str | None:
            got = self.builders[name](self.spark, self.sf_dir).toPandas()
            want = con.cursor().execute(oracles[name]).df()
            return None if checks.rows_equal(got, want) else name

        with ThreadPoolExecutor(max_workers=self.ctx.cores) as pool:
            bad = [n for n in pool.map(check, self.names) if n]
        con.close()
        self.attempted += len(self.names)
        for n in bad:
            self.fail(f"{n} differs from its oracle")
        self.execs: dict[str, list[dict]] = {n: [] for n in self.names}
        self.pass_s: list[float] = []

    def step(self) -> None:
        """One pass over the headline queries; an operation is one execution."""
        t = self.ctx.tracer
        t_pass = 0.0
        for name in self.names:
            t.new_trace()
            self.attempted += 1
            with t.span(f"entry.{name}") as sp:
                with t.span(f"__spark_entry__.{name}") as b:
                    df = self.builders[name](self.spark, self.sf_dir)
                with t.span("DataFrameWriter.save") as x:
                    df.write.format("noop").mode("overwrite").save()
            sp.update(build_s=b["s"], exec_s=x["s"])
            self.execs[name].append(sp)
            self.op_s.append(sp["s"])
            t_pass += sp["s"]
        self.pass_s.append(t_pass)
        self.items += len(self.names)

    def e2e(self) -> dict[str, float]:
        self.summary.update(
            query_pass_s=statistics.median(self.pass_s),
            query_p50_s=statistics.median(self.op_s),
            passes=len(self.pass_s),
            executions=len(self.op_s),
        )
        return super().e2e()

    def layers(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, spans in self.execs.items():
            out.update(
                _spans_layer(
                    f"entry.{name}.",
                    spans,
                    {"build_s": "build_s", "exec_s": "exec_s", "jobs": "jobs",
                     "shuffle_write_bytes": "shuffle_write_bytes"},
                )
            )
        return out


WORKLOADS = {w.name: w for w in (Build, Query)}
