"""Spans around the calls into the product's public functions, plus the
Spark counters of the jobs each span ran.

Every span sets a unique job group on its thread, so the status store
can attribute jobs, task time, shuffle and spill to it after the run
(the group, not a count of status-tracker entries, which the store
evicts and which concurrent threads would mix).  Spans stay in memory
until ``layer_metrics`` reads them when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    group: str = ""
    thread: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans ------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: int | None = None, request: str | None = None, group: str | None = None):
        st = self._stack()
        top = st[-1] if st else None
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            id=sid,
            name=name,
            parent=parent if parent is not None else (top.id if top else None),
            request=request if request is not None else (top.request if top else None),
            start=time.perf_counter(),
            group=group or f"perfbench-{sid}",
            thread=threading.get_ident(),
        )
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, sp.group)
        st.append(sp)
        try:
            yield sp
        finally:
            st.pop()
            pending = getattr(self._local, "pending", None)
            if pending is not None and pending[0].parent == sp.id:
                self._local.pending = None  # the caller that got the lazy result is done
            self.sc.setLocalProperty(GROUP, prev)
            sp.end = time.perf_counter()
            with self._lock:
                self.spans.append(sp)

    # -- wrapping public functions ------------------------------------
    def wrap(self, owner, attr: str, name: str, lazy: str = "") -> None:
        """Replace ``owner.attr`` by a traced version for the rest of the run.
        ``lazy``: the function returns unevaluated DataFrames that its
        caller evaluates; that evaluation runs in the span's job group and
        is recorded as the span ``<name>.<method>``, a sibling of the span
        under the same caller.  ``"one"``: only the caller's next
        evaluation is the layer's; ``"all"``: every evaluation until the
        caller's span ends is (a dict of lazy sections)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name) as sp:
                out = orig(*a, **kw)
            if lazy:
                tracer._local.pending = (sp, lazy == "all")
            return out

        setattr(owner, attr, traced)

    def wrap_evaluation(self, df_class, method: str) -> None:
        """Attribute ``df_class.method`` calls to a pending lazy layer call."""
        orig = getattr(df_class, method)
        tracer = self

        @functools.wraps(orig)
        def evaluate(df, *a, **kw):
            pending = getattr(tracer._local, "pending", None)
            if pending is None:
                return orig(df, *a, **kw)
            sp, keep = pending
            tracer._local.pending = None  # the layer's own evaluations are not deferred
            try:
                with tracer.span(f"{sp.name}.{method}", parent=sp.parent, request=sp.request, group=sp.group):
                    return orig(df, *a, **kw)
            finally:
                if keep:
                    tracer._local.pending = pending

        setattr(df_class, method, evaluate)

    # -- counters -----------------------------------------------------
    def read_counters(self) -> None:
        """Attach each span's Spark counters, read from the status store
        by job group once every listener event has been processed."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stage_ids: dict[str, list[int]] = {}
        n_jobs: dict[str, int] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup().toString()  # "Some(<group>)" or "None"
            if not g.startswith("Some("):
                continue
            g = g[5:-1]
            n_jobs[g] = n_jobs.get(g, 0) + 1
            ids = j.stageIds().mkString(",")
            stage_ids.setdefault(g, []).extend(int(s) for s in ids.split(",") if s)
        empty = self.sc._jvm.java.util.ArrayList()
        defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        stages = store.stageList(empty, *defaults)
        per_stage: dict[int, list[float]] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            acc = per_stage.setdefault(s.stageId(), [0.0] * 5)
            acc[0] += s.executorRunTime() / 1000.0
            acc[1] += s.shuffleWriteBytes()
            acc[2] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            acc[3] += s.inputRecords() + s.shuffleReadRecords()
            acc[4] += s.outputBytes()
        for sp in self.spans:
            tot = [0.0] * 5
            for sid in set(stage_ids.get(sp.group, [])):
                for k, v in enumerate(per_stage.get(sid, ())):
                    tot[k] += v
            own = sp.group == f"perfbench-{sp.id}"
            sp.counters = {
                "jobs": n_jobs.get(sp.group, 0) if own else 0,
                "task_s": tot[0] if own else 0.0,
                "shuffle_write_bytes": tot[1] if own else 0.0,
                "spill_bytes": tot[2] if own else 0.0,
                "records": tot[3] if own else 0.0,
                "output_bytes": tot[4] if own else 0.0,
            }

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time covered by its
        children on the same thread (a layer's self time)."""
        by_id = {sp.id: sp for sp in self.spans}
        child_time: dict[int, float] = {}
        for sp in self.spans:
            parent = by_id.get(sp.parent)
            if parent is not None and parent.thread == sp.thread:
                child_time[parent.id] = child_time.get(parent.id, 0.0) + sp.dur
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.dur - child_time.get(sp.id, 0.0)
        return out


def install(tracer: Tracer) -> None:
    """Wrap the product's public functions the run calls into."""
    from pyspark.sql.classic.dataframe import DataFrame

    from legal_data_ingestion_rag_pipeline_spark import api
    from legal_data_ingestion_rag_pipeline_spark.plans import ingest, quality_report, queries, rag
    from legal_data_ingestion_rag_pipeline_spark.sources import sinks

    tracer.wrap(ingest, "ingest_batch", "ingest.ingest_batch")
    tracer.wrap(sinks.ParquetStore, "write_all", "sinks.write_all")
    tracer.wrap(sinks.ParquetStore, "write", "sinks.write")
    tracer.wrap(sinks, "write_quarantine", "sinks.write_quarantine")
    tracer.wrap(rag, "backfill_chunk_embeddings", "rag.backfill_chunk_embeddings", lazy="one")
    tracer.wrap(quality_report, "report", "quality.report", lazy="all")
    tracer.wrap(api, "context_from_store", "api.context_from_store")
    tracer.wrap(api, "search_dockets", "rag.search_dockets", lazy="one")
    tracer.wrap(queries, "list_cases", "queries.list_cases", lazy="one")
    tracer.wrap(queries, "get_case", "queries.get_case")
    tracer.wrap(queries, "case_parties_of", "queries.case_parties_of", lazy="one")
    for method in ("collect", "localCheckpoint"):
        tracer.wrap_evaluation(DataFrame, method)


def layer_metrics(b, spark, session_s: float, lat: dict) -> dict:
    """The per-layer metrics of a traced run: {name: (value, unit)}."""
    from perfbench.twin import median

    tr: Tracer = b.tracer
    tr.read_counters()
    by_name: dict[str, list[Span]] = {}
    for sp in tr.spans:
        by_name.setdefault(sp.name, []).append(sp)

    def total(names: tuple[str, ...], key: str | None = None) -> float:
        sel = [sp for n in names for sp in by_name.get(n, [])]
        if key is None:
            return sum(sp.dur for sp in sel)
        return float(sum(sp.counters[key] for sp in sel))

    # per request: the layer calls its handler made, for the window's
    # searches, lists and details
    phase = {r["span"]: r.get("phase") for r in b.responses}
    results = {r["span"]: len(r["body"]) for r in b.responses if isinstance(r["body"], list)}
    by_req: dict[str, list[Span]] = {}
    for sp in tr.spans:
        if sp.request:
            by_req.setdefault(sp.request, []).append(sp)
    search, s_jobs, s_task, s_rec = [], [], [], []
    lists, details, l_jobs, l_task, overhead = [], [], [], [], []
    for group in by_req.values():
        client = next((sp for sp in group if sp.name == "client.request"), None)
        layer = [sp for sp in group if sp.name.startswith(("rag.search", "queries."))]
        if client is None or not layer:
            continue  # an invalid request: no layer call
        dur = sum(sp.dur for sp in layer)
        jobs = sum(sp.counters["jobs"] for sp in layer)
        task_ms = sum(sp.counters["task_s"] for sp in layer) * 1e3
        names = {sp.name for sp in layer}
        if "rag.search_dockets" in names:
            if phase.get(client.id) != "window":
                continue
            search.append(dur * 1e3)
            s_jobs.append(jobs)
            s_task.append(task_ms)
            s_rec.append(sum(sp.counters["records"] for sp in layer) / max(1, results.get(client.id, 1)))
        elif phase.get(client.id) == "window":
            (lists if "queries.list_cases" in names else details).append(dur * 1e3)
            l_jobs.append(jobs)
            l_task.append(task_ms)
            overhead.append((client.dur - dur) * 1e3)
    refreshes = by_name.get("api.context_from_store", [])
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(storage[i].memSize() + storage[i].diskSize() for i in range(len(storage)))
    selfs = tr.self_times()
    ing, snk = ("ingest.ingest_batch",), ("sinks.write_all", "sinks.write_quarantine")
    # the backfill call, the materialisation of the chunks it returns and
    # their write; the report and the collects of its lazy sections
    bf = ("rag.backfill_chunk_embeddings", "rag.backfill_chunk_embeddings.localCheckpoint", "sinks.write")
    ql = ("quality.report", "quality.report.collect")
    return {
        "session.build_s": (session_s, "s"),
        "ingest.call_s": (total(ing), "s"),
        "ingest.jobs": (total(ing, "jobs"), "count"),
        "ingest.task_s": (total(ing, "task_s"), "s"),
        "ingest.shuffle_write_bytes": (total(ing, "shuffle_write_bytes"), "bytes"),
        "ingest.spill_bytes": (total(ing, "spill_bytes"), "bytes"),
        "sinks.commit_s": (total(snk), "s"),
        "sinks.jobs": (total(snk, "jobs"), "count"),
        "sinks.task_s": (total(snk, "task_s"), "s"),
        "sinks.bytes_written": (total(snk, "output_bytes"), "bytes"),
        "sinks.files_written": (float(b.files_written), "count"),
        "rag.backfill_s": (total(bf), "s"),
        "rag.backfill_jobs": (total(bf, "jobs"), "count"),
        "rag.backfill_task_s": (total(bf, "task_s"), "s"),
        "rag.chunks": (float(b.chunks), "count"),
        "rag.backfill_spill_bytes": (total(bf, "spill_bytes"), "bytes"),
        "quality.report_s": (total(ql), "s"),
        "quality.jobs": (total(ql, "jobs"), "count"),
        "quality.task_s": (total(ql, "task_s"), "s"),
        "api.refresh_s": (median([sp.dur for sp in refreshes]), "s"),
        "api.refresh_jobs": (median([sp.counters["jobs"] for sp in refreshes]), "count"),
        "api.cached_bytes": (float(cached), "bytes"),
        "rag.search_ms": (median(search), "ms"),
        "rag.search_jobs": (median(s_jobs), "count"),
        "rag.search_task_ms": (median(s_task), "ms"),
        "rag.search_records_per_result": (median(s_rec), "count"),
        "queries.list_ms": (median(lists), "ms"),
        "queries.detail_ms": (median(details), "ms"),
        "queries.jobs_per_request": (median(l_jobs), "count"),
        "queries.task_ms_per_request": (median(l_task), "ms"),
        "api.http_overhead_ms": (median(overhead), "ms"),
        "cli.self_s": (sum(v for k, v in selfs.items() if k.startswith("cli.")), "s"),
        "trace.spans": (float(len(tr.spans)), "count"),
        "trace.search_p50_ms": (median(lat["search"]), "ms"),
        "trace.lookup_mean_ms": (sum(lat["lookup"]) / len(lat["lookup"]), "ms"),
    }
