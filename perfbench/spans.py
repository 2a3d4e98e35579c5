"""Spans, layer wrappers and the Spark status-store collector.

Only traced runs use this module. A ``Tracer`` wraps the public functions of
the program's layer modules (``install``), records one span per call, and
tags every Spark job submitted inside a span with that span's job group, so
``collect_jobs`` can attribute each job to the innermost span that issued
it. Spans stay in memory until the run writes them out.

The interval arithmetic at the bottom is pure and is what the self-test in
``test_spans.py`` exercises.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb"

# Built table -> the pipeline family that writes it.
TABLE_FAMILY = {
    "gene": "genes_exons", "exon": "genes_exons",
    "syntenic_block": "synteny", "cytogenetic_band": "cytobands",
    "feature": "features", "snp_variant": "variants", "homolog": "homologs",
    "on_terms": "ontology", "on_pairs": "ontology", "gene_ontology_map": "ontology",
}
FAMILIES = sorted(set(TABLE_FAMILY.values()))

# Layer name -> (module path under the program package, public functions).
LAYERS = {
    "loaders": ("plans.loaders", [
        "load_genes_exons", "load_synteny_blocks", "load_cytobands",
        "load_features", "load_variants", "load_homologs", "build_ontology",
    ]),
    "io": ("sources.io", ["write_table", "assert_no_duplicates", "upsert_dedup"]),
    "obo": ("sources.obo", ["read_obo_terms", "obo_edges"]),
    "closure": ("operators.closure", ["transitive_closure", "descendant_counts"]),
    "components": ("operators.components", [
        "connected_components", "golden_records", "pagerank",
    ]),
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    run: str
    start: float
    end: float = 0.0
    thread: int = 0
    attrs: dict = field(default_factory=dict)


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int
    skipped: int
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


class Tracer:
    """Records spans around calls into the program and tags their jobs.

    Times are epoch seconds (``time.time``) so spans line up with the job
    submission and completion times Spark's status store reports.
    """

    def __init__(self, sc, run: str):
        self._sc = sc
        self.run = run
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sp = Span(next(self._ids), parent.id if parent else None, name,
                      self.run, time.time(), thread=threading.get_ident(),
                      attrs=attrs)
            self.spans.append(sp)
            if self._root is None:
                self._root = sp
        prev = self._sc.getLocalProperty(GROUP_KEY)
        self._sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sp.id}")
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._sc.setLocalProperty(GROUP_KEY, prev)
            if sp is self._root:
                self._root = None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if name == "io.write_table":
                path = kwargs.get("path", args[1] if len(args) > 1 else "")
                attrs["table"] = str(path).rstrip("/").rsplit("/", 1)[-1]
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        return wrapper

    def install(self, package: str) -> None:
        """Replace each layer function on its module with a spanning wrapper."""
        for layer, (mod_path, names) in LAYERS.items():
            mod = importlib.import_module(f"{package}.{mod_path}")
            for n in names:
                fn = getattr(mod, n)
                setattr(mod, n, self._wrap(fn, f"{layer}.{n}"))
                self._patched.append((mod, n, fn))

    def uninstall(self) -> None:
        for mod, n, fn in reversed(self._patched):
            setattr(mod, n, fn)
        self._patched.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def last_job_id(sc) -> int:
    """Highest job id the status store knows, or -1."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def collect_jobs(sc, after_id: int) -> list[Job]:
    """Jobs with id > ``after_id``, with per-job sums over their stages.

    The listener bus is drained first: the status store is fed
    asynchronously, and reading it early misses completion times.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seq = store.jobsList(None)
    seen_stages: set[int] = set()
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= after_id:
            continue
        grp = j.jobGroup().get() if j.jobGroup().isDefined() else None
        start = j.submissionTime().get().getTime() / 1000
        end = (j.completionTime().get().getTime() / 1000
               if j.completionTime().isDefined() else start)
        sids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
        run_ms = cpu_ns = sr = sw = sp = 0
        for sid in sids:
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            sr += sd.shuffleReadBytes()
            sw += sd.shuffleWriteBytes()
            sp += sd.diskBytesSpilled()
        out.append(Job(j.jobId(), grp, start, end, len(sids), j.numSkippedStages(),
                       run_ms / 1e3, cpu_ns / 1e9, sr, sw, sp))
    return sorted(out, key=lambda jb: jb.id)


# ---------------------------------------------------------------------------
# Interval arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by ``intervals``."""
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals)


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (span.end - span.start) - covered(
        span.start, span.end, [(c.start, c.end) for c in children])


def driver_gap(lo: float, hi: float, jobs: list[Job]) -> float:
    """Wall time in [lo, hi] during which no Spark job was running."""
    return (hi - lo) - covered(lo, hi, [(j.start, j.end) for j in jobs])


def span_of_job(job: Job) -> int | None:
    g = job.group or ""
    if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit():
        return int(g[len(GROUP_PREFIX):])
    return None


class SpanTree:
    """Spans plus the jobs attributed to them, with subtree queries."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int | None, list[Span]] = {}
        for s in spans:
            self.children.setdefault(s.parent, []).append(s)
        self.own_jobs: dict[int, list[Job]] = {}
        self.unattributed: list[Job] = []
        for j in jobs:
            sid = span_of_job(j)
            if sid in self.by_id:
                self.own_jobs.setdefault(sid, []).append(j)
            else:
                self.unattributed.append(j)

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children.get(span.id, []))

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.id, []))
        return out

    def subtree_jobs(self, span: Span) -> list[Job]:
        return [j for s in self.subtree(span) for j in self.own_jobs.get(s.id, [])]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.by_id.values() if s.name == name]


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

# Operator entry points reported as <name>.{s,jobs}.
OPERATORS = [
    "components.connected_components", "components.golden_records",
    "components.pagerank",
]
SPARK = [
    ("jobs", "count", "lower"), ("driver_gap_s", "s", "lower"),
    ("executor_run_s", "s", "lower"), ("executor_cpu_s", "s", "lower"),
    ("cpu_util", "ratio", "higher"), ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
    ("stage_reuse_ratio", "ratio", "higher"), ("unattributed_jobs", "count", "lower"),
]


def per_layer_specs(queries: list[str]) -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, for every workload."""
    out = [("session.jvm_hwm_mb", "MB", "lower"), ("session.py_hwm_mb", "MB", "lower")]
    out += [(f"pipeline.{f}.end_s", "s", "lower") for f in FAMILIES]
    out.append(("pipeline.concurrency", "ratio", "higher"))
    for fn in LAYERS["loaders"][1]:
        out += [(f"loaders.{fn}.s", "s", "lower"), (f"loaders.{fn}.jobs", "count", "lower")]
    out += [(f"io.write_table.{t}.s", "s", "lower") for t in TABLE_FAMILY]
    out += [("io.write_table.executor_run_s", "s", "lower"),
            ("io.assert_no_duplicates.s", "s", "lower")]
    out += [("closure.transitive_closure.s", "s", "lower"),
            ("closure.transitive_closure.jobs", "count", "lower"),
            ("closure.transitive_closure.executor_run_s", "s", "lower"),
            ("closure.transitive_closure.shuffle_read_mb", "MB", "lower")]
    for op in OPERATORS:
        out += [(f"{op}.s", "s", "lower"), (f"{op}.jobs", "count", "lower")]
    for q in queries:
        out += [(f"{q}.wall_s", "s", "lower"), (f"{q}.driver_gap_s", "s", "lower"),
                (f"{q}.jobs", "count", "lower"), (f"{q}.executor_cpu_s", "s", "lower")]
    out += [(f"spark.{n}", u, b) for n, u, b in SPARK]
    out += [("trace.overhead", "ratio", "lower"),
            ("trace.blocking_self_share", "ratio", "higher")]
    return out


MB = 1e6


def _families(tree: SpanTree, root: Span) -> dict[str, tuple[float, float, list[Span]]]:
    """Family -> (start, end, spans) for the spans of each build thread.

    ``build_database`` runs each table family on its own thread; a thread's
    family is named by the tables it writes.
    """
    by_thread: dict[int, list[Span]] = {}
    for s in tree.by_id.values():
        if s.thread != root.thread:
            by_thread.setdefault(s.thread, []).append(s)
    out = {}
    for ss in by_thread.values():
        fams = {TABLE_FAMILY.get(s.attrs.get("table")) for s in ss} - {None}
        if len(fams) == 1:
            out[fams.pop()] = (min(s.start for s in ss), max(s.end for s in ss), ss)
    return out


def layer_metrics(spans: list[Span], jobs: list[Job], cores: int,
                  queries: list[str]) -> tuple[dict[str, float], dict]:
    """Per-layer metrics of one traced region, and the blocking-path detail.

    ``.s`` metrics are self times summed over calls; ``.jobs`` count the
    jobs attributed to the span itself (its innermost span). Layers the
    workload never reaches read 0.
    """
    tree = SpanTree(spans, jobs)
    (root,) = tree.children[None]
    wall = root.end - root.start
    m: dict[str, float] = {}

    def own(name: str, pred=lambda s: True) -> tuple[float, list[Job]]:
        ss = [s for s in tree.named(name) if pred(s)]
        return (sum(tree.self_time(s) for s in ss),
                [j for s in ss for j in tree.own_jobs.get(s.id, [])])

    fams = _families(tree, root)
    for f in FAMILIES:
        m[f"pipeline.{f}.end_s"] = fams[f][1] - root.start if f in fams else 0.0
    m["pipeline.concurrency"] = sum(e - s for s, e, _ in fams.values()) / wall if fams else 0.0
    for fn in LAYERS["loaders"][1]:
        s, js = own(f"loaders.{fn}")
        m[f"loaders.{fn}.s"], m[f"loaders.{fn}.jobs"] = s, len(js)
    for t in TABLE_FAMILY:
        m[f"io.write_table.{t}.s"] = own("io.write_table", lambda s: s.attrs.get("table") == t)[0]
    m["io.write_table.executor_run_s"] = sum(j.run_s for j in own("io.write_table")[1])
    m["io.assert_no_duplicates.s"] = own("io.assert_no_duplicates")[0]
    s, js = own("closure.transitive_closure")
    m.update({
        "closure.transitive_closure.s": s,
        "closure.transitive_closure.jobs": len(js),
        "closure.transitive_closure.executor_run_s": sum(j.run_s for j in js),
        "closure.transitive_closure.shuffle_read_mb": sum(j.shuffle_read for j in js) / MB,
    })
    for op in OPERATORS:
        s, js = own(op)
        m[f"{op}.s"], m[f"{op}.jobs"] = s, len(js)
    for q in queries:
        ss = tree.named(f"query.{q}")
        qjobs = [j for s in ss for j in tree.subtree_jobs(s)]
        m[f"{q}.wall_s"] = sum(s.end - s.start for s in ss)
        m[f"{q}.driver_gap_s"] = sum(driver_gap(s.start, s.end, tree.subtree_jobs(s)) for s in ss)
        m[f"{q}.jobs"] = len(qjobs)
        m[f"{q}.executor_cpu_s"] = sum(j.cpu_s for j in qjobs)
    cpu = sum(j.cpu_s for j in jobs)
    stages = sum(j.stages for j in jobs)
    m.update({
        "spark.jobs": len(jobs),
        "spark.driver_gap_s": driver_gap(root.start, root.end, jobs),
        "spark.executor_run_s": sum(j.run_s for j in jobs),
        "spark.executor_cpu_s": cpu,
        "spark.cpu_util": cpu / (wall * cores),
        "spark.shuffle_read_mb": sum(j.shuffle_read for j in jobs) / MB,
        "spark.shuffle_write_mb": sum(j.shuffle_write for j in jobs) / MB,
        "spark.spill_mb": sum(j.spill for j in jobs) / MB,
        "spark.stage_reuse_ratio": sum(j.skipped for j in jobs) / stages if stages else 0.0,
        "spark.unattributed_jobs": len(tree.unattributed),
    })
    # Blocking path: the root's own time plus, for a build, the spans of the
    # latest-ending family; for a sequential pass, every span.
    if fams:
        last = max(fams, key=lambda f: fams[f][1])
        chain = [root] + fams[last][2]
    else:
        chain = list(tree.by_id.values())
        last = None
    blocking = sum(tree.self_time(s) for s in chain)
    m["trace.blocking_self_share"] = blocking / wall
    detail = {"wall_s": wall, "blocking_self_s": blocking, "latest_family": last}
    return m, detail
