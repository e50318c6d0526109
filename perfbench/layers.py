"""Layer tracing for the benchmark's traced run.

A :class:`Tracer` wraps the program's public layer functions where its own
modules call them, so each call becomes one span:

* the span sets a Spark job group named after its layer, so every job the
  call starts (and the jobs that force its output) is attributed to it in
  the event log;
* the call's DataFrame output is persisted and counted inside the span, so
  the work that laziness would push into a later layer lands in this one;
* counts (rows in/out, ratios) are taken right after the span, under a
  separate ``probe`` group that no layer claims.

Spans (name, start, end, parent, op id) stay in memory and are written out
when the run ends. Task, GC and shuffle figures per layer come from the
event log (``SPARK_GRAFT_EVENTLOG``), keyed by job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

GROUP_PREFIX = "trace:"
PROBE = "probe"
OP_LAYER = "spark"

#: layer -> its extra counts, in report order; every layer also gets
#: wall_s, task_s, gc_s, shuffle_mb, jobs and tasks_failed
LAYERS = {
    "corpus": ("rows_out",),
    "dedup": ("rows_out",),
    "canonicalize": ("rows_changed",),
    "extract": ("rows_in", "rows_out"),
    "link": ("rows_out", "hit_ratio"),
    "materialize": ("rows_in", "rows_out"),
    "sources": ("rows_in", "rows_out"),
    "mapping": ("rows_out",),
    "statements": ("rows_out", "fill_ratio"),
    "sink": ("mb_written", "files_written"),
    "merge": ("rows_out",),
    "store": ("mb_written", "files_rewritten", "write_amplification"),
    OP_LAYER: ("jobs_per_op", "stages_per_op", "tasks_per_op", "cached_mb_peak",
               "first_op_s"),
}
#: per job group, from the event log (see ``read_eventlog``)
EVENT_METRICS = ("task_s", "gc_s", "shuffle_mb", "jobs", "tasks_failed")

UNITS = {
    "wall_s": "s", "task_s": "s", "gc_s": "s", "shuffle_mb": "MB",
    "first_op_s": "s", "mb_written": "MB", "cached_mb_peak": "MB", "hit_ratio": "ratio",
    "fill_ratio": "ratio", "write_amplification": "ratio",
    "overhead_ratio": "ratio", "coverage": "ratio",
}


def unit_of(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[1], "count")


class Tracer:
    """Spans, forced outputs and counts of one traced op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts = defaultdict(float)  # "layer.metric" -> value
        self.forced = []
        self.patches = []
        self.op_id = None
        self.op_layer = OP_LAYER
        #: called after each apply_mutations call, before its result is
        #: written (the store listing hook of the import workload)
        self.on_apply = None

    # -- spans
    def _group(self, layer):
        self.sc.setJobGroup(GROUP_PREFIX + layer, layer)

    @contextlib.contextmanager
    def span(self, layer: str):
        parent = self.stack[-1] if self.stack else None
        rec = {"id": len(self.spans), "name": layer, "op": self.op_id,
               "parent": None if parent is None else parent["id"],
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.stack.append(rec)
        self._group(layer)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if self.stack:
                self._group(self.stack[-1]["name"])
            else:
                self.sc.setJobGroup("untraced", "untraced")

    def force(self, df):
        """Persist ``df``; the caller's ``count()`` then computes it here."""
        df = df.persist()
        self.forced.append(df)
        return df

    def release(self):
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    # -- patching
    def patch(self, module, attr, layer, after=None, force="out"):
        """Replace ``module.attr`` by a spanned call.

        ``force`` names what the span forces: ``"out"`` the DataFrame the
        call returns (or the first item of a returned tuple), ``"arg0"`` its
        first argument (for a call whose output the op never consumes), or
        None for an enclosing call whose children do the forcing.
        ``after(args, kwargs, out, n)`` then records counts under the probe
        group, ``n`` being the forced row count.
        """
        orig = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            n = None
            with tracer.span(layer):
                if force == "arg0":
                    args = (tracer.force(args[0]), *args[1:])
                    n = args[0].count()
                out = orig(*args, **kwargs)
                if force == "out":
                    if isinstance(out, tuple):
                        out = (tracer.force(out[0]), *out[1:])
                        n = out[0].count()
                    else:
                        out = tracer.force(out)
                        n = out.count()
            if after is not None:
                with tracer.span(PROBE):
                    after(args, kwargs, out, n)
            return out

        setattr(module, attr, traced)
        self.patches.append((module, attr, orig))

    def unpatch(self):
        for module, attr, orig in reversed(self.patches):
            setattr(module, attr, orig)
        self.patches.clear()

    def add(self, name, value):
        self.counts[name] += value

    def install(self):
        """Wrap every layer function at the call sites the ops reach."""
        from nebula_importer_spark.operators import merge
        from nebula_importer_spark.pipeline import importer, run

        add = self.add

        def rows_out(layer):
            return lambda a, k, out, n: add(f"{layer}.rows_out", n)

        def extract_in(a, k, out, n):
            add("extract.rows_in", a[0].count())

        def link(a, k, out, n):
            add("link.rows_out", n)
            add("link.rows_in", a[0].count())

        def canon(a, k, out, n):
            from pyspark.sql import functions as F

            add("canonicalize.rows_changed",
                out.where(F.col("doc_id") != F.col("canonical_id")).count())

        def triples(a, k, out, n):
            add("materialize.rows_out", n)
            add("materialize.rows_in", _dedup_input(a[0]).count())

        def sources(a, k, out, n):
            obs = out[1].get
            add("sources.rows_in", obs["raw"])
            add("sources.rows_out", obs["parsed"])

        def statements(a, k, out, n):
            from pyspark.sql import functions as F

            batch = k["batch"]  # the importer always passes it by name
            records = out.agg(F.sum("n_records")).collect()[0][0] or 0
            add("statements.rows_out", n)
            add("statements.slots", n * batch)
            add("statements.records", records)

        for name in ("reassemble", "explode_spans"):
            self.patch(run, name, "corpus", rows_out("corpus"))
        self.patch(run, "minhash_lsh_pairs", "dedup", rows_out("dedup"))
        self.patch(run, "canonical_mapping", "canonicalize", canon)
        self.patch(run, "extract_mentions", "extract", extract_in)
        self.patch(run, "doc_mentions", "extract", rows_out("extract"))
        self.patch(run, "link_mentions", "link", link)
        self.patch(run, "predicate_stats", "materialize", triples, force="arg0")
        for mod in (run, importer):
            for name in ("node_values", "edge_values"):
                self.patch(mod, name, "mapping", rows_out("mapping"))
        self.patch(importer, "read_source_accounted", "sources", sources)
        # the statement write and the table rewrite have no public function:
        # sink is the self time of the per-spec call that writes statements,
        # store the self time of the per-spec apply that rewrites the table
        self.patch(importer, "_run_spec", "sink", force=None)
        self.patch(importer, "_apply_spec", "store", force=None)
        self.patch(importer, "assemble_statements", "statements", statements)

        def apply(a, k, out, n):
            add("merge.rows_out", n)
            if self.on_apply is not None:
                self.on_apply()

        self.patch(merge, "apply_mutations", "merge", apply)
        self.patch(merge, "unmatched_update_rows", "merge")


def _dedup_input(triples):
    """The relation under the triples' global dedup: the union of every
    triple part, before duplicates are dropped."""
    from pyspark.sql import DataFrame

    spark = triples.sparkSession
    plan = triples._jdf.queryExecution().analyzed()
    while plan.nodeName() != "Deduplicate":
        plan = plan.children().apply(0)
    child = plan.children().apply(0)
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, child)
    return DataFrame(jdf, spark)


class CachePoller:
    """Samples the cached bytes of the session while an op runs."""

    def __init__(self, sc, interval=0.1):
        self.sc = sc
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        self.peak = max(self.peak, sum(i.memSize() + i.diskSize() for i in infos))

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=30)
        self._sample()


def op_counts(sc, group: str) -> dict:
    """Jobs, stages run and tasks run by one job group, from the status
    tracker (exact: the same op on the same inputs repeats them)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        stages.update(info.stageIds if info else ())
    ran = [s for s in (st.getStageInfo(s) for s in stages)
           if s is not None and s.numCompletedTasks > 0]
    return {"jobs": len(jobs), "stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran)}


def list_files(path: str) -> dict:
    """{relative path: size} of the data files under ``path``."""
    out = {}
    for f in glob.glob(os.path.join(path, "**", "part-*"), recursive=True):
        out[os.path.relpath(f, path)] = os.path.getsize(f)
    return out


def read_eventlog(directory: str) -> dict:
    """Per job group: jobs, task seconds, GC seconds, shuffle MB (read plus
    written) and failed tasks, summed over the run's event log."""
    stage_group = {}
    agg = defaultdict(lambda: defaultdict(float))
    files = sorted(f for f in glob.glob(os.path.join(directory, "**"), recursive=True)
                   if os.path.isfile(f))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    agg[group]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    a = agg[stage_group.get(ev["Stage ID"])]
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        a["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    a["task_s"] += m.get("Executor Run Time", 0) / 1000
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    r = m.get("Shuffle Read Metrics") or {}
                    w = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_mb"] += (r.get("Remote Bytes Read", 0)
                                        + r.get("Local Bytes Read", 0)
                                        + w.get("Shuffle Bytes Written", 0)) / 2**20
    return agg


def self_times(spans: list[dict]) -> dict:
    """Per span id: its duration minus the time its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}
