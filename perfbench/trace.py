"""Spans and per-layer probes for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files, around calls into the
package's public functions: directly in ``workloads.py``'s workbook
operation, and for ``run_validation`` by temporarily wrapping the module
attributes it looks up (:func:`patched`). Each span carries the run id,
its parent, and the Spark jobs, task-seconds and bytes its call caused.
Spans stay in memory until :meth:`Tracer.write`, which adds self time:
the span's duration minus the part its children cover.

The probes force one layer's public call with a ``noop`` write (or time
it directly) so each layer's cost is measured on its own.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import re
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

from .sparkstats import StatusStore, Usage

KEEP = ["fmt", "bucket", "image_id"]


class Tracer:
    def __init__(self, run_id: str, store: StatusStore):
        self.run_id = run_id
        self.store = store
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.store.mark()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(dataclasses.asdict(self.store.since(mark)))

    def add(self, name: str, start: float, end: float) -> None:
        """A span for work that ran before the tracer existed."""
        self.spans.append({"run": self.run_id, "id": len(self.spans), "parent": None,
                           "name": name, "start": start, "end": end})

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's
        intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: Path) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = []
        for s, self_s in zip(self.spans, self.self_times()):
            r = dict(s)
            r["start"], r["end"] = s["start"] - t0, s["end"] - t0
            r["dur_s"] = s["end"] - s["start"]
            r["self_s"] = self_s
            rows.append(r)
        path.write_text(json.dumps(rows, indent=1))


# module attribute -> span name, for the calls run_validation makes
_VALIDATION_CALLS = [
    ("dcc_validate_metadata_spark.sources.image_table", "load_image_table", "image_table.load_image_table"),
    ("dcc_validate_metadata_spark.plans.pipeline", "build_violations", "pipeline.build_violations"),
    ("dcc_validate_metadata_spark.plans.pipeline", "build_verdicts", "pipeline.build_verdicts"),
    ("dcc_validate_metadata_spark.plans.pipeline", "fused_decode_violations", "invariants.fused_decode_violations"),
    ("dcc_validate_metadata_spark.plans.pipeline", "decode_check_violations", "invariants.decode_check_violations"),
    ("dcc_validate_metadata_spark.rules.compiler", "compile_rule", "compiler.compile_rule"),
    ("dcc_validate_metadata_spark.operators.uniqueness", "duplicate_keys", "uniqueness.duplicate_keys"),
    ("dcc_validate_metadata_spark.operators.uniqueness", "gated_dup_table", "uniqueness.gated_dup_table"),
]


@contextmanager
def patched(tracer: Tracer):
    """Wrap the layer functions ``run_validation`` calls in spans for the
    duration of the block, then restore them."""
    import importlib

    saved = []
    for mod_name, attr, span_name in _VALIDATION_CALLS:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)

        def wrapper(*a, _fn=fn, _name=span_name, **k):
            with tracer.span(_name):
                return _fn(*a, **k)

        saved.append((mod, attr, fn))
        setattr(mod, attr, functools.wraps(fn)(wrapper))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# --------------------------------------------------------------------------
# probes
# --------------------------------------------------------------------------


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe(tracer: Tracer, name: str, fn) -> tuple[float, Usage]:
    with tracer.span(name) as rec:
        fn()
    u = Usage(**{f.name: rec[f.name] for f in dataclasses.fields(Usage)})
    return rec["end"] - rec["start"], u


def drain_batches(batches):
    """Arrow floor body: every batch crosses into a pandas frame in the
    worker, nothing comes back — what the decode stage pays before its
    first decode."""
    for b in batches:
        yield b.iloc[:0]


def count_exchanges(df) -> int:
    """Shuffle exchanges in the physical plan (broadcasts excluded)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"^[\s+\-:|]*Exchange ", plan, flags=re.M))


def image_layers(spark, tracer: Tracer, table: Path, ruleset, ontology, gt) -> dict:
    """Per-layer probes over one image-schema table, each forced with a
    ``noop`` write."""
    from dcc_validate_metadata_spark.images.invariants import (
        decode_check_violations,
        fused_decode_violations,
    )
    from dcc_validate_metadata_spark.operators import uniqueness as U
    from dcc_validate_metadata_spark.plans.pipeline import build_violations
    from dcc_validate_metadata_spark.rules.compiler import violations_for
    from dcc_validate_metadata_spark.rules.model import Ruleset, default_image_ruleset
    from dcc_validate_metadata_spark.sources.image_table import load_image_table

    ruleset = ruleset or default_image_ruleset()
    full = load_image_table(spark, str(table))
    meta = full.drop("bytes")
    m: dict[str, float] = {}

    dt, u = _probe(tracer, "image_table.load_image_table", lambda: _force(meta))
    m["sources.scan_s"], m["sources.input_mb"] = dt, u.input_mb

    rows_only = Ruleset(table=ruleset.table, rules=ruleset.row_rules)
    dt, u = _probe(tracer, "compiler.violations_for",
                   lambda: _force(violations_for(meta, rows_only, KEEP)))
    m["rules.row_s"], m["rules.row_task_s"] = dt, u.task_s

    fields = [r.field for r in ruleset.unique_rules]

    def uniqueness():
        for fld in fields:
            _force(U.gated_dup_table(U.duplicate_keys(meta, fld)))
        U.release_dup_tables()

    dt, u = _probe(tracer, "uniqueness.duplicate_keys+gated_dup_table", uniqueness)
    m["uniqueness.s"], m["uniqueness.task_s"], m["uniqueness.shuffle_mb"] = dt, u.task_s, u.shuffle_mb
    m["uniqueness.exchanges"] = sum(count_exchanges(U.duplicate_keys(meta, f)) for f in fields)

    proj = full.select(*dict.fromkeys(KEEP + ["bytes", "w", "h", "fmt"]))
    dt, _ = _probe(tracer, "invariants.arrow_floor",
                   lambda: _force(proj.mapInPandas(drain_batches, schema=proj.schema)))
    m["invariants.arrow_floor_s"] = dt

    if gt is not None:
        decode = fused_decode_violations(full, gt, KEEP)
    else:
        decode = decode_check_violations(full, KEEP)
    dt, u = _probe(tracer, "invariants.decode_violations", lambda: _force(decode))
    m["invariants.decode_s"], m["invariants.decode_task_s"] = dt, u.task_s
    m["invariants.straggler_ratio"] = tracer.store.straggler_ratio(u)

    def violations():
        _force(build_violations(full, ruleset=ruleset, ontology=ontology, gt=gt))
        U.release_dup_tables()

    dt, _ = _probe(tracer, "pipeline.build_violations", violations)
    m["pipeline.violations_s"] = dt
    m["referential.s"] = ontology_join_s(tracer, meta, ruleset, ontology)
    return m


REF_PAIRS = 3


def ontology_join_s(tracer: Tracer, meta, ruleset, ontology) -> float:
    """Cost of the ontology check ``run_validation`` makes: a broadcast
    join inside ``build_violations``, not a call of its own. Times
    ``build_violations`` on the metadata columns without any ``bytes``
    rule (so no decode branch), with and without the ontology, in
    alternating pairs; returns the difference of the medians."""
    from dcc_validate_metadata_spark.operators.uniqueness import release_dup_tables
    from dcc_validate_metadata_spark.plans.pipeline import build_violations
    from dcc_validate_metadata_spark.rules.model import Ruleset

    rules = Ruleset(table=ruleset.table, rules=tuple(r for r in ruleset.rules if r.field != "bytes"))
    times: dict[str, list[float]] = {"with": [], "without": []}
    for _ in range(REF_PAIRS):
        for key, onto in (("with", ontology), ("without", None)):
            def run():
                _force(build_violations(meta, ruleset=rules, ontology=onto))
                release_dup_tables()

            dt, _ = _probe(tracer, f"pipeline.build_violations[{key} ontology]", run)
            times[key].append(dt)
    return statistics.median(times["with"]) - statistics.median(times["without"])


CODECS = ("jpeg", "png", "vp8l", "vp8")
PER_CODEC, REPEATS = 16, 3


def codec_layer(tracer: Tracer) -> dict:
    """``codec.decode_image`` per row, in this process, over a fixed
    sample drawn with the image generator's content recipe (32x32)."""
    from dcc_validate_metadata_spark.images import codec
    from dcc_validate_metadata_spark.sources import image_table as IT

    rng = np.random.default_rng(0)
    enc = {"jpeg": "jpeg", "png": "png", "vp8l": "webp", "vp8": "webp_lossy"}
    sample = {}
    for name in CODECS:
        pix = [
            IT._chroma_smooth_pixels(rng, 32, 32) if name == "vp8" else IT._smooth_pixels(rng, 32, 32)
            for _ in range(PER_CODEC)
        ]
        sample[name] = [codec.encode_image(p, enc[name]) for p in pix]
    m = {}
    for name in CODECS:
        times = []
        with tracer.span(f"codec.decode_image[{name}]"):
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                for data in sample[name]:
                    codec.decode_image(data)
                times.append((time.perf_counter() - t0) * 1000.0 / PER_CODEC)
        m[f"codec.{name}_ms"] = statistics.median(times)
    return m
