"""Layer-attributed tracing of benchmark calls, done from outside the library.

Spans live in memory: the call is the root, wrapped public functions of the
layered modules are its descendants, and the Spark jobs a span launches are
attached to it. Jobs are matched to spans through a Spark job group that the
tracer sets on entering a span (and restores on leaving), so every job the
span launches carries the span's id. Job, stage and SQL metrics come from the
driver's status REST API (``/api/v1``) after the call has ended, so reading
them is not part of the call's wall time.

Time accounting is exact by construction. For a span S with child spans C and
own jobs J (clipped to S):

    jobs_excl(S) = |union(J) minus union(C)|
    self(S)      = wall(S) - sum(wall(C)) - jobs_excl(S)

so, summed over the tree, ``wall(call) = sum(self) + sum(jobs_excl)``; the
root's self time is the part no wrapped function or job accounts for.

Module attributes are patched before ``ndto_spark.queries`` is imported
(it binds names at import); references other loaded ``ndto_spark`` modules
already hold to a patched function are rebound too.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
import urllib.request
from contextlib import contextmanager
from typing import Optional

# layer -> [(module, attribute)]; "Class.method" patches a method
TARGETS = {
    "parser": [("ndto_spark.parser", "parse")],
    "compiler": [("ndto_spark.compiler", "Compiler.compile")],
    "runner": [("ndto_spark.runner", "validate"), ("ndto_spark.runner", "validate_row_object")],
    "json_rules": [("ndto_spark.json_rules", "validate_json_column")],
    "table_rules": [("ndto_spark.table_rules", "*")],
    "images": [("ndto_spark.images", "validate_images"),
               ("ndto_spark.images", "validate_images_metadata")],
    "batch": [("ndto_spark.batch", "image_batch_violations")],
    "checkpoint": [("ndto_spark.checkpoint", "run_resumable"),
                   ("ndto_spark.checkpoint", "phash_bounds")],
    "dedup": [("ndto_spark.dedup", n) for n in (
        "minhash_lsh_pairs", "near_dup_groups", "simhash_dup_candidates",
        "semantic_decontaminate")],
    "text": [("ndto_spark.functions.text", "dsir_weights")],
    "ann": [("ndto_spark.ann", n) for n in (
        "brute_force_topk", "lsh_topk", "ivf_topk", "kmeans_centroids",
        "hard_negatives", "knn_graph")],
    "multimodal": [("ndto_spark.multimodal", "embed_images")],
    # input reads: Spark infers a parquet schema with a job of its own
    "read": [("pyspark.sql.readwriter", "DataFrameReader.parquet")],
}
LAYERS = tuple(TARGETS)

# spans whose OWN jobs are the call's terminal action (not eager side-jobs)
TERMINAL = {"final", "checkpoint.run_resumable"}

PYTHON_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
STAGE_REF = re.compile(r"\(stage (\d+)\.\d+:")
NUMBERED_LINE = re.compile(r"^\d+ ", re.M)


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "children", "start", "end",
                 "jobs", "result")

    def __init__(self, sid: str, name: str, layer: str, parent: Optional["Span"]):
        self.sid, self.name, self.layer, self.parent = sid, name, layer, parent
        self.children: list[Span] = []
        self.start = self.end = 0.0
        self.jobs: list[dict] = []  # {"id", "start", "end", "stages": [...]}
        self.result = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def to_json(self) -> dict:
        return {
            "name": self.name, "layer": self.layer, "start": self.start,
            "wall": self.wall, "self": self_time(self), "jobs_excl": jobs_excl(self),
            "jobs": [{k: j[k] for k in ("id", "start", "end", "stage_ids")} for j in self.jobs],
            "children": [c.to_json() for c in self.children],
        }


# ---------------------------------------------------------------------------
# interval arithmetic


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _measure(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _minus(a: list, b: list) -> float:
    """|union(a) minus union(b)|."""
    ua, ub = _union(a), _union(b)
    overlap = 0.0
    for x0, x1 in ua:
        for y0, y1 in ub:
            overlap += max(0.0, min(x1, y1) - max(x0, y0))
    return _measure(ua) - overlap


def jobs_excl(span: Span) -> float:
    own = [(max(j["start"], span.start), min(j["end"], span.end)) for j in span.jobs]
    kids = [(c.start, c.end) for c in span.children]
    return _minus(own, kids)


def self_time(span: Span) -> float:
    return span.wall - sum(c.wall for c in span.children) - jobs_excl(span)


# ---------------------------------------------------------------------------
# tracer


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark, self.sc, self.cores = spark, spark.sparkContext, cores
        self.enabled = False
        self.stack: list[Span] = []
        self.calls: list[Span] = []
        self._n = 0
        self._ui = self.sc.uiWebUrl
        self._app = self.sc.applicationId
        self._sql_seen = -1
        self.own_s = 0.0  # tracer bookkeeping inside calls (the overhead)

    # -- patching -------------------------------------------------------------

    def install(self) -> None:
        import importlib

        for layer, targets in TARGETS.items():
            for modname, attr in targets:
                mod = importlib.import_module(modname)
                if attr == "*":
                    names = [n for n, v in vars(mod).items()
                             if callable(v) and not n.startswith("_")
                             and getattr(v, "__module__", None) == modname
                             and not isinstance(v, type)]
                    for n in names:
                        self._patch(mod, n, layer)
                else:
                    self._patch(mod, attr, layer)

    def _patch(self, mod, attr: str, layer: str) -> None:
        owner, name = mod, attr
        if "." in attr:
            cls, name = attr.split(".")
            owner = getattr(mod, cls)
        orig = getattr(owner, name)
        label = f"{layer}.{name}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or not tracer.stack:
                return orig(*args, **kwargs)
            with tracer.span(label, layer) as s:
                out = orig(*args, **kwargs)
                s.result = out
                return out

        setattr(owner, name, wrapper)
        if owner is mod and mod.__name__.startswith("ndto_spark"):
            # names bound by `from .x import f` in modules imported earlier
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("ndto_spark") and \
                        getattr(m, name, None) is orig:
                    setattr(m, name, wrapper)

    # -- spans ------------------------------------------------------------------

    def _set_group(self, span: Optional[Span]) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.sid, span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        self._n += 1
        s = Span(f"perfbench-{self._n}", name, layer, parent)
        if parent is not None:
            parent.children.append(s)
        self.stack.append(s)
        self._set_group(s)
        s.start = time.time()
        if parent is not None:
            self.own_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)
            if parent is not None:
                self.own_s += time.perf_counter() - t1

    @contextmanager
    def call(self, op: str):
        """Root span of one traced call."""
        with self.span(op, "call") as root:
            yield root
        self.calls.append(root)

    @contextmanager
    def terminal(self, fp_df):
        """The call's terminal action: Catalyst planning is forced in its own
        span, then the action runs in the ``final`` span (whose result is the
        query execution, read after the call)."""
        if not self.enabled or not self.stack:
            yield
            return
        with self.span("catalyst", "spark"):
            qe = fp_df._jdf.queryExecution()
            qe.executedPlan()
        with self.span("final", "spark") as s:
            s.result = qe
            yield

    # -- metrics collection ------------------------------------------------------

    def _get(self, path: str):
        url = f"{self._ui}/api/v1/applications/{self._app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def _drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - best effort; polling below covers it
            time.sleep(0.2)

    def collect(self, root: Span) -> dict:
        """Attach jobs/stages to the call's spans; return SQL-level facts."""
        self._drain()
        spans = {s.sid: s for s in root.walk()}
        jobs = [j for j in self._get("jobs") if j.get("jobGroup") in spans]
        for _ in range(50):
            if all(j.get("completionTime") for j in jobs):
                break
            time.sleep(0.1)
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in spans]
        stage_ids = sorted({sid for j in jobs for sid in j["stageIds"]})
        stages = {}
        for sid in stage_ids:
            for att in self._get(f"stages/{sid}"):
                if att.get("status") in ("COMPLETE", "FAILED"):
                    stages[sid] = att
                    break
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                if sid in stages and sid not in owner:
                    owner[sid] = j["jobId"]
        for j in jobs:
            spans[j["jobGroup"]].jobs.append({
                "id": j["jobId"],
                "start": _ts(j["submissionTime"]),
                "end": _ts(j.get("completionTime") or j["submissionTime"]),
                "stage_ids": [s for s in j["stageIds"] if owner.get(s) == j["jobId"]],
                "stages": [stages[s] for s in j["stageIds"] if owner.get(s) == j["jobId"]],
            })
        for s in _outermost(root, "compiler"):
            s.result = expr_nodes(self.spark._jsparkSession, s.result)
        for s in root.walk():
            if s.name == "final" and s.result is not None:
                s.result = s.result.executedPlan().toString()
        job_ids = {j["jobId"] for j in jobs}
        python_rows, python_stages = 0, set()
        for ex in self._sql_since():
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs & job_ids:
                continue
            for node in ex.get("nodes", []):
                if not PYTHON_NODE.search(node.get("nodeName", "")):
                    continue
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        python_rows += _int(m.get("value", "0"))
                    python_stages.update(int(x) for x in STAGE_REF.findall(m.get("value", "")))
        return {"python_rows": python_rows, "python_stages": python_stages}

    def _sql_since(self) -> list[dict]:
        out = self._get("sql?details=true&planDescription=false&offset=0&length=1000000")
        fresh = [e for e in out if e["id"] > self._sql_seen]
        if out:
            # keep the last few: an execution can still be finishing
            self._sql_seen = max(self._sql_seen, max(e["id"] for e in out) - 50)
        return fresh


def _ts(s: str) -> float:
    # e.g. 2026-10-17T02:55:01.123GMT
    import calendar

    base, ms = s[:19], s[20:23]
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0


def _int(s: str) -> int:
    m = re.search(r"-?[\d,]+", s)
    return int(m.group(0).replace(",", "")) if m else 0


# ---------------------------------------------------------------------------
# per-call facts and per-layer metrics


def expr_nodes(jsession, compiled) -> int:
    """Catalyst node count of a Compiled's pred and viol trees."""
    n = 0
    for col in (getattr(compiled, "pred", None), getattr(compiled, "viol", None)):
        if col is not None:
            tree = jsession.expression(col._jc).numberedTreeString()
            n += len(NUMBERED_LINE.findall(tree))
    return n


def _outermost(root: Span, layer: str) -> list[Span]:
    out = []

    def rec(s: Span, inside: bool):
        hit = s.layer == layer
        if hit and not inside:
            out.append(s)
        for c in s.children:
            rec(c, inside or hit)

    rec(root, False)
    return out


def _jobs_under(spans: list[Span]) -> list[dict]:
    return [j for s in spans for d in s.walk() for j in d.jobs]


def _stage_sum(jobs: list[dict], key: str) -> float:
    return float(sum(st.get(key, 0) or 0 for j in jobs for st in j["stages"]))


def call_facts(root: Span, sql: dict, cores: int, out_rows: int, bucket: Optional[dict]) -> dict:
    """Every per-layer quantity of one traced call (sums, not yet averaged)."""
    spans = list(root.walk())
    all_jobs = _jobs_under([root])
    terminal = [s for s in spans if s.name in TERMINAL]
    eager_jobs = [j for s in spans if s.name not in TERMINAL for j in s.jobs]
    eager_s = sum(jobs_excl(s) for s in spans if s.name not in TERMINAL)
    catalyst = sum(s.wall for s in spans if s.name == "catalyst")
    final_s = sum(self_time(s) + jobs_excl(s) for s in terminal)
    build_s = sum(self_time(s) for s in spans if s.name not in TERMINAL and s.name != "catalyst")
    task_s = _stage_sum(all_jobs, "executorRunTime") / 1000.0
    f = {
        "call.wall_s": root.wall,
        "trace.unattributed_s": self_time(root),
        "spark.build_s": build_s,
        "spark.eager_jobs": len(eager_jobs),
        "spark.eager_s": eager_s,
        "spark.catalyst_s": catalyst,
        "spark.final_s": final_s,
        "spark.jobs": len(all_jobs),
        "spark.task_s": task_s,
        "spark.gc_s": _stage_sum(all_jobs, "jvmGcTime") / 1000.0,
        "spark.input_bytes": _stage_sum(all_jobs, "inputBytes"),
        "spark.shuffle_write_bytes": _stage_sum(all_jobs, "shuffleWriteBytes"),
        "spark.spill_bytes": _stage_sum(all_jobs, "memoryBytesSpilled")
        + _stage_sum(all_jobs, "diskBytesSpilled"),
        "spark.python_rows": sql["python_rows"],
        "spark.failed_tasks": _stage_sum(all_jobs, "numFailedTasks"),
        "_core_denominator": root.wall * cores,
    }
    by_layer = {layer: _outermost(root, layer) for layer in LAYERS}
    wall = {layer: sum(s.wall for s in ss) for layer, ss in by_layer.items()}
    ljobs = {layer: _jobs_under(ss) for layer, ss in by_layer.items()}
    f["parser.parse_s"] = wall["parser"]
    f["compiler.compile_s"] = wall["compiler"]
    f["compiler.expr_nodes"] = sum(s.result for s in by_layer["compiler"])
    f["runner.validate_s"] = wall["runner"]
    f["runner.violation_rows"] = out_rows if by_layer["runner"] else 0
    f["json_rules.validate_s"] = wall["json_rules"]
    f["json_rules.round_robin_exchanges"] = sum(
        (s.result or "").count("RoundRobinPartitioning") for s in spans if s.name == "final"
    ) if by_layer["json_rules"] else 0
    f["table_rules.call_s"] = wall["table_rules"]
    f["table_rules.jobs"] = len(ljobs["table_rules"])
    f["images.validate_s"] = wall["images"]
    f["batch.build_s"] = wall["batch"]
    f["batch.task_s"] = sum(
        st.get("executorRunTime", 0) for j in all_jobs for st in j["stages"]
        if st["stageId"] in sql["python_stages"]
    ) / 1000.0 if by_layer["batch"] else 0.0
    f["checkpoint.call_s"] = wall["checkpoint"]
    if bucket is not None:
        f["checkpoint.jobs_per_bucket"] = len(all_jobs)
        f["_ckpt_read"] = f["spark.input_bytes"]
        f["_ckpt_share"] = bucket["table_bytes"] * bucket["rows"] / bucket["total_rows"]
        f["_ckpt_written"] = _stage_sum(all_jobs, "outputBytes")
        f["_ckpt_rows"] = bucket["rows"]
    for layer in ("dedup", "text", "ann"):
        eager = [j for s in by_layer[layer] for d in s.walk() if d.name not in TERMINAL
                 for j in d.jobs]
        f[f"{layer}.call_s"] = wall[layer]
        f[f"{layer}.eager_jobs"] = len(eager)
    f["dedup.eager_s"] = sum(jobs_excl(d) for s in by_layer["dedup"] for d in s.walk())
    f["dedup.spill_bytes"] = _stage_sum(ljobs["dedup"], "outputBytes")
    f["ann.task_s"] = task_s if by_layer["ann"] else 0.0
    f["multimodal.call_s"] = wall["multimodal"]
    return f


PER_LAYER = (
    "spark.build_s", "spark.eager_jobs", "spark.eager_s", "spark.catalyst_s",
    "spark.final_s", "spark.jobs", "spark.task_s", "spark.core_util", "spark.gc_s",
    "spark.input_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.python_rows", "spark.failed_tasks",
    "parser.parse_s", "compiler.compile_s", "compiler.expr_nodes",
    "runner.validate_s", "runner.violation_rows",
    "json_rules.validate_s", "json_rules.round_robin_exchanges",
    "table_rules.call_s", "table_rules.jobs",
    "images.validate_s", "batch.build_s", "batch.task_s",
    "checkpoint.call_s", "checkpoint.jobs_per_bucket", "checkpoint.read_amp",
    "checkpoint.write_bytes_per_row",
    "dedup.call_s", "dedup.eager_jobs", "dedup.eager_s", "dedup.spill_bytes",
    "text.call_s", "text.eager_jobs",
    "ann.call_s", "ann.eager_jobs", "ann.task_s",
    "multimodal.call_s",
    "trace.unattributed_s", "trace.overhead_ratio",
)

UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_util": "ratio",
         "_amp": "ratio", "_per_row": "bytes/row"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_metrics(facts: list[dict], overhead_ratio: float) -> dict:
    """Per-call means of every per-layer metric (ratios of sums for ratios)."""
    n = max(1, len(facts))
    tot = lambda k: sum(f.get(k, 0.0) for f in facts)  # noqa: E731
    out = {}
    for name in PER_LAYER:
        if name == "spark.core_util":
            v = tot("spark.task_s") / max(tot("_core_denominator"), 1e-9)
        elif name == "checkpoint.read_amp":
            v = tot("_ckpt_read") / tot("_ckpt_share") if tot("_ckpt_share") else 0.0
        elif name == "checkpoint.write_bytes_per_row":
            v = tot("_ckpt_written") / tot("_ckpt_rows") if tot("_ckpt_rows") else 0.0
        elif name == "checkpoint.jobs_per_bucket":
            k = sum(1 for f in facts if name in f)
            v = tot(name) / k if k else 0.0
        elif name == "trace.overhead_ratio":
            v = overhead_ratio
        else:
            v = tot(name) / n
        out[name] = {"value": float(v), "unit": unit_of(name)}
    return out


def layer_table(calls: list[Span]) -> str:
    """Per-layer self time, eager/final jobs, bytes and counts, summed over
    the traced calls."""
    rows: dict[str, dict] = {}
    for root in calls:
        for s in root.walk():
            layer = "call (unattributed)" if s is root else s.layer
            r = rows.setdefault(layer, {"self_s": 0.0, "job_s": 0.0, "eager": 0, "final": 0,
                                        "in_b": 0.0, "shuf_b": 0.0, "spans": 0})
            r["spans"] += 1
            r["self_s"] += self_time(s)
            r["job_s"] += jobs_excl(s)
            key = "final" if s.name in TERMINAL else "eager"
            r[key] += len(s.jobs)
            r["in_b"] += _stage_sum(s.jobs, "inputBytes")
            r["shuf_b"] += _stage_sum(s.jobs, "shuffleWriteBytes")
    wall = sum(c.wall for c in calls)
    lines = [f"{'layer':<22}{'spans':>6}{'self_s':>9}{'job_s':>9}{'eager':>7}{'final':>7}"
             f"{'in_MB':>9}{'shuf_MB':>9}"]
    acc = 0.0
    for layer, r in sorted(rows.items(), key=lambda kv: -(kv[1]["self_s"] + kv[1]["job_s"])):
        acc += r["self_s"] + r["job_s"]
        lines.append(f"{layer:<22}{r['spans']:>6}{r['self_s']:>9.3f}{r['job_s']:>9.3f}"
                     f"{r['eager']:>7}{r['final']:>7}{r['in_b'] / 1e6:>9.2f}"
                     f"{r['shuf_b'] / 1e6:>9.2f}")
    lines.append(f"{'sum of parts':<22}{'':>6}{acc:>18.3f}   call wall {wall:.3f} s")
    return "\n".join(lines)
