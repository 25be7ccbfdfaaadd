"""The two workloads, gate_scan and images_resume: which calls they make and
how each call is checked.

A *call* is one unit of work built through the repo's public entry points
(``ndto_spark.queries.QUERIES`` or ``checkpoint.run_resumable``) and ended by
an action that materialises every output column. Each call's output is
compared with an oracle-verified expectation; a call that raises or does not
match counts as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from dataclasses import dataclass
from typing import Callable, Optional

from harness import fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTATIONS = os.path.join(HERE, "expectations.json")

# op -> tables (or fixture tables) it reads, for the input-row count.
#
# gate_scan times each op's first call in a warmed JVM, in a fixed order: a
# cold call costs 1.5-3x a warm one and how much depends on what ran before
# it, so a shuffled order moves the median by more than the bound. The lists
# are cut to what fits the per-run time budget on a 4-core host; together
# they still run every layer.
#
# rules ops on the events / lineitem / customer tables, at sf0.01
RULES_SCAN = {
    "validate_lineitem": ["lineitem"],
    "validate_oas_petstore": ["events"],
    "validate_json_mixed": ["events"],
    "validate_json_props": ["events"],
    "uniqueness_lineitem": ["lineitem"],
    "ref_integrity_events": ["events", "customer"],
    "drift_lineitem": ["lineitem"],
    "profile_lineitem": ["lineitem"],
}
# verified by perfbench/expect.py, not timed: validate_row_object is the
# warm-up (its runner path also runs in validate_oas_petstore), and
# validate_images_meta's metadata rules run inside images_resume's
# validate_images; the rest did not fit the run budget
RULES_UNTIMED = (
    "validate_row_object", "validate_images_meta", "validate_events",
    "validate_formats", "validate_map_object", "validate_tuple_anyof",
)

# rules ops on the documents table, at sf0.1: the gate's documents table has
# 500 rows at both sf0.001 and sf0.01, and grows only at sf0.1
RULES_DOCUMENTS = {
    "validate_documents": ["documents"],
    "validate_arrays": ["documents"],
}

# dedup (minhash_lsh_pairs + near_dup_groups, semantic_decontaminate), text
# (dsir_weights), multimodal (embed_images) and ann (brute_force_topk), at sf0.1
CURATE_CORPUS = {
    "near_dup_groups_documents": ["documents"],
    "dsir_documents": ["documents"],
    "image_embed_topk_images": ["feature_images"],
    "semantic_decontaminate_embeddings": ["embeddings"],
}
# verified by perfbench/expect.py, not timed: they did not fit the run
# budget. infer_json_events is not even verified: its DuckDB oracle raises a
# parse error on the gate data (ROADMAP open item 5).
CURATE_UNTIMED = (
    "violation_summary_documents", "hard_negatives_embeddings", "ann_ivf_embeddings",
    "minhash_lsh_documents", "simhash_documents", "ann_topk_embeddings",
    "ann_lsh_embeddings", "knn_graph_embeddings",
)


@dataclass
class OpGroup:
    """Gate ops that read the same generated tables at one scale factor."""

    ops: dict
    sf: float
    tables: tuple
    untimed: tuple  # verified by expect.py, not timed


# the scale factor of the benchmark's own tests, which expect.py also covers
TEST_SF = 0.001


def op_groups(sf: Optional[float] = None) -> list[OpGroup]:
    """events / lineitem / customer ops at sf0.01, documents / embeddings ops
    at sf0.1 (``sf`` overrides both)."""
    return [
        OpGroup(RULES_SCAN, sf or 0.01, ("events", "lineitem", "customer"), RULES_UNTIMED),
        OpGroup({**RULES_DOCUMENTS, **CURATE_CORPUS}, sf or 0.1, ("documents", "embeddings"),
                CURATE_UNTIMED),
    ]


# rows of the fixture tables the gate queries synthesise themselves
FIXTURE_ROWS = {"feature_images": 600}

IMAGES_ROWS = 2000
IMAGES_FILES = 16
IMAGES_BUCKETS = 6


@dataclass
class Call:
    """One timed unit of work. ``run`` returns (ok, detail) and may set
    ``out_rows`` / ``bucket`` for the traced run's per-layer facts."""

    op: str
    key: str  # names the call in failure reports (op, or resume position)
    input_rows: int
    run: Callable[[], tuple[bool, str]] = None
    group: int = 0  # calls sharing a group are verified together (sweeps)
    out_rows: int = 0
    bucket: Optional[dict] = None


def sf_key(sf: float) -> str:
    return f"sf{sf:g}"


def load_expectations() -> dict:
    """Stored expectations, {"sf0.01": {op: {...}}, ...} (an op without one
    fails every call)."""
    if not os.path.exists(EXPECTATIONS):
        return {}
    with open(EXPECTATIONS) as f:
        return json.load(f)["expectations"]


# ---------------------------------------------------------------------------
# gate_scan


class GateWorkload:
    """Calls = gate queries; one pass runs every op once, in declaration
    order (the sf0.01 rules ops, the documents rules ops, then the curation
    ops)."""

    warmup_op = "validate_row_object"

    def __init__(self, groups: list[OpGroup]):
        self.groups = groups
        self.group_of = {op: g for g in groups for op in g.ops}
        self.terminal = None  # the tracer's hook around each terminal action

    def data_dir(self, group: OpGroup) -> str:
        return os.path.join(self.work, f"data-{sf_key(group.sf)}")

    def setup(self, spark, work: str, seed: int) -> None:
        import gen
        from ndto_spark import fixtures
        from ndto_spark.queries import QUERIES

        self.spark, self.queries, self.work = spark, QUERIES, work
        self.rows: dict[float, dict] = {}
        for g in self.groups:
            self.rows.setdefault(g.sf, {}).update(
                gen.write_tables(self.data_dir(g), g.sf, g.tables))
        # image_embed_topk_images synthesises this fixture on first use; it
        # is an input, so it is built here and no timed call pays for it
        fixtures.synth_feature_images_cached(spark, FIXTURE_ROWS["feature_images"])
        expectations = load_expectations()
        self.expected = {g.sf: expectations.get(sf_key(g.sf), {}) for g in self.groups}

    def warmup(self) -> None:
        """One untimed gate op outside the timed set: it takes the JVM's
        first-query cost, and no timed op gets a warm first call."""
        ok, detail = self.call(self.warmup_op).run()
        if not ok:
            print(f"warm-up {self.warmup_op} mismatched: {detail}", file=sys.stderr)

    def call(self, op: str) -> Call:
        g = self.group_of.get(op, self.groups[0])
        rows = dict(self.rows[g.sf], **FIXTURE_ROWS)
        call = Call(op, op, sum(rows[t] for t in g.ops.get(op, ())))

        def run() -> tuple[bool, str]:
            try:
                call.out_rows, fp = fingerprint(
                    self.queries[op](self.spark, self.data_dir(g)), self.terminal)
            finally:
                # CacheManager keys on the canonicalised plan: a later call
                # rebuilding the same frame would alias a still-persisted one
                self.spark.catalog.clearCache()
            want = self.expected[g.sf].get(op, {}).get("fingerprint")
            if want is None:
                return False, "no oracle-verified expectation"
            return fp == want, fp

        call.run = run
        return call

    def passes(self):
        """Endless passes; each holds every op once, in declaration order."""
        k = 0
        while True:
            yield k, [self.call(op) for op in self.group_of]
            k += 1

    def verify_group(self, group: int) -> Optional[str]:
        return None

    def teardown(self) -> None:
        pass


# ---------------------------------------------------------------------------
# images_resume


def expected_image_violations(n_rows: int) -> dict:
    """The fixture's seeded violation classes (fixtures.py docstring), in the
    shape tests/test_images_pipeline.py asserts them."""
    from ndto_spark import fixtures

    exp = fixtures.expected_violation_classes(n_rows)
    seeded = set().union(*exp.values()) | {i - 12 for i in exp[8]}
    return {
        "by_path": {
            "$.decode": exp[0],
            "$.dimensions": sorted(exp[1] + exp[7]),
            "$.format": sorted(exp[2] + exp[6]),
            "$.min_length": exp[3],
            "$.max_length": exp[4],
            "$.type": exp[5],
            "$": exp[6],
            "$.minimum": exp[7],
            "$.psnr": exp[11],
        },
        "null_id": len(exp[9]),
        "unique": len(exp[8]),
        "caption_equality_min": sorted(set(exp[3]) | set(exp[4])),
        "seeded": seeded,
    }


def check_image_sweep(viol_rows: list, manifests: list[dict], n_rows: int) -> Optional[str]:
    """None when a finished sweep's violations and manifests match the
    seeded expectation, else the first mismatch."""
    from ndto_spark import fixtures

    exp = expected_image_violations(n_rows)

    def ids(path):
        return sorted(
            fixtures.row_id_of(v["image_id"])
            for v in viol_rows
            if v["schema_path"] == path and v["image_id"] is not None
        )

    for path, want in exp["by_path"].items():
        if ids(path) != want:
            return f"{path}: {len(ids(path))} rows, expected {len(want)}"
    null_id = [v for v in viol_rows if v["image_id"] is None and v["column"] == "image_id"]
    if len(null_id) != exp["null_id"]:
        return f"null image_id: {len(null_id)} != {exp['null_id']}"
    dups = [v for v in viol_rows if v["keyword"] == "unique"]
    if len(dups) != exp["unique"] or any("2 times" not in v["description"] for v in dups):
        return f"unique: {len(dups)} != {exp['unique']}"
    cap = {fixtures.row_id_of(v["image_id"]) for v in viol_rows
           if v["keyword"] == "caption_equality"}
    if not set(exp["caption_equality_min"]) <= cap:
        return "caption_equality misses seeded captions"
    flagged = {fixtures.row_id_of(v["image_id"]) for v in viol_rows if v["image_id"] is not None}
    clean = flagged - exp["seeded"]
    if clean:
        return f"{len(clean)} clean rows flagged"
    if sum(m["n_rows"] for m in manifests) != n_rows:
        return f"manifest rows {sum(m['n_rows'] for m in manifests)} != {n_rows}"
    if sum(m["n_violations"] for m in manifests) != len(viol_rows):
        return "manifest violation total != violations written"
    per_bucket: dict[int, int] = {}
    for v in viol_rows:
        per_bucket[v["bucket"]] = per_bucket.get(v["bucket"], 0) + 1
    for m in manifests:
        if per_bucket.get(m["bucket"], 0) != m["n_violations"]:
            return f"bucket {m['bucket']}: manifest count != rows written"
    return None


class ImagesResumeWorkload:
    """Calls = resumes of a bucketed, checkpointed validate_images run.

    A sweep starts from a fresh checkpoint dir with the initial call, which
    writes the run header (stored phash bounds) and the first bucket; that
    call is set-up, not timed (the first sweep's is the warm-up). Each timed
    call then resumes the run as a restart after a crash would, processing
    one bucket (max_buckets_per_call=1). A finished sweep is verified against
    the fixture's seeded violation classes and its manifests."""

    def __init__(self, n_rows: int = IMAGES_ROWS):
        self.n_rows = n_rows

    def setup(self, spark, work: str, seed: int) -> None:
        from ndto_spark import fixtures

        self.spark, self.work, self.seed = spark, work, seed
        # always rebuilt: the fixture cache lives in this run's work dir
        self.df = fixtures.synth_images_cached(spark, self.n_rows, IMAGES_FILES, seed)
        self.input_desc = fixtures.images_cache_path(self.n_rows, IMAGES_FILES, seed)
        self.table_bytes = sum(
            os.path.getsize(os.path.join(self.input_desc, f))
            for f in os.listdir(self.input_desc) if f.endswith(".parquet")
        )
        self._sweeps: list = []

    def _validate(self, sub):
        from ndto_spark.images import validate_images

        return validate_images(sub, seed=self.seed)

    def _resume(self, ckpt):
        from ndto_spark import checkpoint

        try:
            return checkpoint.run_resumable(
                self.df, ckpt, self._validate, self.input_desc, "IMAGE_RULES",
                n_buckets=IMAGES_BUCKETS, max_buckets_per_call=1,
            )
        finally:
            self.spark.catalog.clearCache()

    def _start_sweep(self) -> None:
        from ndto_spark import checkpoint

        ckpt = checkpoint.CheckpointManager(
            os.path.join(self.work, f"ckpt-{len(self._sweeps)}"))
        self._sweeps.append(ckpt)
        self._resume(ckpt)

    def warmup(self) -> None:
        self._start_sweep()

    def _call(self, k: int, i: int, ckpt) -> Call:
        call = Call("resume", f"resume-{i}", self.n_rows // IMAGES_BUCKETS, group=k)

        def run() -> tuple[bool, str]:
            before = ckpt.completed_buckets()
            self._resume(ckpt)
            new = ckpt.completed_buckets() - before
            if len(new) != 1:
                return False, f"call completed {len(new)} buckets"
            b = new.pop()
            call.input_rows = call.out_rows = ckpt.read_bucket(b)["n_rows"]
            call.bucket = {"rows": call.input_rows, "total_rows": self.n_rows,
                           "table_bytes": self.table_bytes}
            return True, f"bucket {b}"

        call.run = run
        return call

    def passes(self):
        k = 0
        while True:
            if k >= len(self._sweeps):
                self._start_sweep()
            ckpt = self._sweeps[k]
            yield k, [self._call(k, i, ckpt) for i in range(1, IMAGES_BUCKETS)]
            k += 1

    def verify_group(self, group: int) -> Optional[str]:
        """Check a finished sweep against the fixture classes and manifests."""
        ckpt = self._sweeps[group]
        done = ckpt.completed_buckets()
        if len(done) != IMAGES_BUCKETS:
            return f"sweep finished {len(done)} of {IMAGES_BUCKETS} buckets"
        rows = [
            r.asDict()
            for r in self.spark.read.parquet(ckpt.violations_dir)
            .select("image_id", "column", "schema_path", "keyword", "description", "bucket")
            .collect()
        ]
        manifests = [ckpt.read_bucket(b) for b in sorted(done)]
        err = check_image_sweep(rows, manifests, self.n_rows)
        shutil.rmtree(ckpt.root, ignore_errors=True)
        return err

    def teardown(self) -> None:
        for ckpt in self._sweeps:
            shutil.rmtree(ckpt.root, ignore_errors=True)


def make(name: str, sf: Optional[float] = None, images_rows: Optional[int] = None):
    """The named workload; ``sf`` / ``images_rows`` shrink it for tests."""
    if name == "gate_scan":
        return GateWorkload(op_groups(sf))
    if name == "images_resume":
        return ImagesResumeWorkload(images_rows or IMAGES_ROWS)
    raise SystemExit(f"unknown workload {name!r}")
