"""Tracing for the ``--trace 1`` run: spans around the calls into each
layer, recorded from the benchmark's own files.

``Tracer.install`` wraps the public functions of each layer module and
restores them in ``uninstall``; the program is not edited. A span records
its name, layer, start, end, parent and request id (the queued job id, or
the client iteration for work outside a job). After the run, Spark jobs
from ``/api/v1`` are attributed to the innermost span open at their
submission; the job group ``JobQueue`` sets names the request. From spans
and Spark jobs the report derives each layer's self time and the
per-layer metrics listed in ``BENCHMARK.json``.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    req: str
    parent: "Span | None" = None
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    spark_jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


LAYERS = ("client", "api", "plans.jobs", "operators.tsdb", "sources.hfile",
          "sources.hfilev3", "sources.hfilescan")


class Tracer:
    def __init__(self):
        self.roots: list[Span] = []
        self.stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = False
        self.scan_rows = 0  # rows the traced scans returned

    # -- span recording -------------------------------------------------------
    def _open(self, name: str, layer: str, req: str | None = None) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(name, layer, time.time(), req or (parent.req if parent else name), parent)
        if parent:
            parent.children.append(span)
        else:
            self.roots.append(span)
        self.stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()

    def span(self, fn, name: str, layer: str, req=None):
        tracer = self

        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            s = tracer._open(name, layer, req(*a, **kw) if req else None)
            try:
                return fn(*a, **kw)
            finally:
                tracer._close(s)

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.span(orig, name or attr, layer))

    # -- install / uninstall --------------------------------------------------
    def install(self, client) -> None:
        from hbase_bulkload_service_spark import api
        from hbase_bulkload_service_spark.operators import tsdb
        from hbase_bulkload_service_spark.plans import jobs
        from hbase_bulkload_service_spark.sources import hfile, hfilev3

        tracer = self
        for m in ("bulkload", "run_pending", "load_hfiles"):
            self._patch(api.BulkloadService, m, "api", f"api.{m}")
        for m in ("hour_range_filter", "bulkload_kv"):
            self._patch(tsdb, m, "operators.tsdb", f"tsdb.{m}")
        for m in ("write_hfiles", "build_manifest", "validate_layout"):
            self._patch(hfile, m, "sources.hfile", f"hfile.{m}")
        for m in ("write_hfilev3_files", "seek_row_hfile_v3"):
            self._patch(hfilev3, m, "sources.hfilev3", f"hfilev3.{m}")
        self._patch(client, "scan_action", "sources.hfilescan", "hfilescan.scan")
        traced_scan = client.scan_action

        def counted_scan(df):
            tbl = traced_scan(df)
            if tracer.enabled:
                tracer.scan_rows += tbl.num_rows
            return tbl

        client.scan_action = counted_scan

        # each queued job callable becomes a span whose request id is the
        # job id (the job group JobQueue sets for its Spark jobs)
        submit = jobs.JobQueue.__dict__["submit"]

        def traced_submit(queue, job_id, fn):
            return submit(queue, job_id, tracer.span(fn, "job", "plans.jobs", lambda: job_id))

        self._patches.append((jobs.JobQueue, "submit", submit))
        jobs.JobQueue.submit = traced_submit

        iterate = client.iterate
        self._patches.append((client, "iterate", iterate))
        client.iterate = self.span(iterate, "iteration", "client",
                                   lambda *a, **kw: f"it{client.iterations}")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self.enabled = False

    # -- attribution ----------------------------------------------------------
    def attribute(self, jobs: list) -> int:
        """Attach each Spark job to the innermost span open at its
        submission (within the queued job its group names, when there is
        one). Returns how many jobs found a span."""
        spans = [s for r in self.roots for s in r.walk()]
        job_spans = {s.req: s for s in spans if s.name == "job"}
        n = 0
        for j in jobs:
            scope = job_spans.get(j.group)
            if scope is None or not scope.start <= j.start <= scope.end:
                scope = None
            pool = list(scope.walk()) if scope else spans
            open_ = [s for s in pool if s.start <= j.start <= s.end]
            if not open_:
                continue
            innermost = max(open_, key=lambda s: s.start)
            innermost.spark_jobs.append(j)
            n += 1
        return n


def _union(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _jobs(span: Span) -> list:
    return [j for s in span.walk() for j in s.spark_jobs]


def _stages(spans) -> list:
    return [st for sp in spans for j in _jobs(sp) for st in j.stages]


def unaccounted(job_span: Span) -> float:
    """Wall of a queued job that no child span or Spark job covers."""
    covered = [(c.start, c.end) for c in job_span.children]
    covered += [(j.start, j.end) for j in _jobs(job_span)]
    clipped = [(max(s, job_span.start), min(e, job_span.end)) for s, e in covered]
    return job_span.wall - _union([iv for iv in clipped if iv[0] < iv[1]])


def layer_report(tracer: Tracer, client, spark_jobs: list) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of the traced iterations, as (value, unit)."""
    iters = tracer.roots
    spark_jobs = [j for j in spark_jobs if any(r.start <= j.start <= r.end for r in iters)]
    attributed = tracer.attribute(spark_jobs)
    n_it = max(len(iters), 1)
    spans = [s for r in iters for s in r.walk()]

    def named(name):
        return [s for s in spans if s.name == name]

    job_spans = named("job")
    writes = named("hfile.write_hfiles") + named("hfilev3.write_hfilev3_files")
    v3_writes = named("hfilev3.write_hfilev3_files")
    scans = named("hfilescan.scan")
    write_stages = _stages(writes)
    m: dict[str, tuple[float, str]] = {}

    for layer in LAYERS:
        m[f"self_s.{layer}"] = (sum(s.self_s for s in spans if s.layer == layer) / n_it, "s")
        m[f"spark_jobs.{layer}"] = (
            sum(len(s.spark_jobs) for s in spans if s.layer == layer) / n_it, "count")

    per_job = max(len(job_spans), 1)
    m["api.submit_ms"] = (_mean([s.wall * 1000 for s in named("api.bulkload")]), "ms")
    m["plans.jobs.job_self_s"] = (_mean([s.self_s for s in job_spans]), "s")
    m["plans.jobs.jobs_run"] = (len(job_spans) / n_it, "count")
    m["plans.jobs.jobs_failed"] = (float(client.dropped), "count")
    m["spark.driver_gap_s"] = (_mean([
        s.wall - _union([(j.start, j.end) for j in _jobs(s) if j.group == s.req])
        for s in job_spans
    ]), "s")
    m["operators.tsdb.plan_ms"] = (
        sum(s.wall for s in spans if s.layer == "operators.tsdb") * 1000 / per_job, "ms")
    m["operators.tsdb.dedup_ratio"] = (_mean(client.rows_out) / client.exp["input_cells"], "ratio")
    m["operators.tsdb.dedup_shuffle_bytes"] = (
        sum(st.shuffle_write_bytes for st in write_stages if st.kind == "map") / per_job, "B")
    m["operators.tsdb.range_shuffle_bytes"] = (
        sum(st.shuffle_write_bytes for st in write_stages if st.kind == "exchange") / per_job, "B")
    m["operators.tsdb.executor_cpu_s"] = (
        sum(st.cpu_s for st in write_stages if st.kind != "result") / per_job, "s")

    m["sources.hfile.write_s"] = (_mean([s.self_s for s in named("hfile.write_hfiles")]), "s")
    m["sources.hfile.build_manifest_s"] = (_mean([s.wall for s in named("hfile.build_manifest")]), "s")
    m["sources.hfile.validate_layout_s"] = (_mean([s.wall for s in named("hfile.validate_layout")]), "s")
    readback = [s for j in job_spans for s in j.walk()
                if s.name in ("hfile.build_manifest", "hfile.validate_layout")]
    m["sources.hfile.readback_bytes_per_request"] = (
        sum(st.input_bytes for st in _stages(readback)) / per_job, "B")
    m["sources.hfile.spark_jobs_per_request"] = (
        sum(len(_jobs(s)) for s in job_spans) / per_job, "count")
    parquet_out = [o for o in client.outputs if o[0] == "parquet"]
    m["sources.hfile.files_written"] = (_mean([o[1] for o in parquet_out]), "count")
    m["sources.hfile.bytes_written"] = (_mean([o[2] for o in parquet_out]), "B")

    m["sources.hfilev3.write_s"] = (_mean([s.self_s for s in v3_writes]), "s")
    m["sources.hfilev3.range_exchanges_per_write"] = (
        sum(1 for st in _stages(v3_writes) if st.kind == "exchange") / max(len(v3_writes), 1), "count")
    writer = [st for st in _stages(v3_writes) if st.kind == "result" and st.shuffle_read_bytes]
    run_s = sum(st.run_s for st in writer)
    m["sources.hfilev3.python_share"] = (
        (run_s - sum(st.cpu_s for st in writer)) / run_s if run_s else 0.0, "ratio")
    m["sources.hfilev3.bytes_written"] = (_mean([o[2] for o in client.outputs if o[0] == "v3"]), "B")
    g = client.get_stats
    gets = max(g["gets"], 1)
    m["sources.hfilev3.bytes_read_per_get"] = (g["bytes_read"] / gets, "B")
    m["sources.hfilev3.data_blocks_read_per_get"] = (g["data_blocks_read"] / gets, "count")
    m["sources.hfilev3.bloom_negative_ratio"] = (
        g["bloom_negative"] / g["file_probes"] if g["file_probes"] else 0.0, "ratio")

    scan_stages = _stages(scans)
    n_scans = max(len(scans), 1)
    m["sources.hfilescan.regions_total"] = (float(client.regions_total), "count")
    m["sources.hfilescan.regions_read_per_scan"] = (
        sum(st.num_tasks for st in scan_stages if st.kind == "result") / n_scans, "count")
    m["sources.hfilescan.tasks_per_scan"] = (sum(st.num_tasks for st in scan_stages) / n_scans, "count")
    m["sources.hfilescan.rows_read_per_row_returned"] = (
        sum(st.input_records for st in scan_stages) / tracer.scan_rows if tracer.scan_rows else 0.0,
        "ratio")

    all_stages = [st for j in spark_jobs for st in j.stages]
    m["spark.jobs"] = (len(spark_jobs) / n_it, "count")
    m["spark.jobs_attributed_share"] = (attributed / len(spark_jobs) if spark_jobs else 0.0, "ratio")
    m["spark.stages"] = (len(all_stages) / n_it, "count")
    m["spark.tasks"] = (sum(st.num_tasks for st in all_stages) / n_it, "count")
    m["spark.tasks_failed"] = (float(sum(st.failed_tasks for st in all_stages)), "count")
    m["spark.executor_run_s"] = (sum(st.run_s for st in all_stages) / n_it, "s")
    m["spark.executor_cpu_s"] = (sum(st.cpu_s for st in all_stages) / n_it, "s")
    m["spark.jvm_gc_s"] = (sum(st.gc_s for st in all_stages) / n_it, "s")
    walls = sum(s.wall for s in job_spans)
    m["trace.unaccounted_share"] = (
        sum(unaccounted(s) for s in job_spans) / walls if walls else 0.0, "ratio")
    return m
