"""In-memory spans around the engine's layer entry points.

The engine's stages are lazy: a layer function such as
``operators.verify.verify_pairs`` only builds a plan, and the Spark jobs
that execute it run when the pipeline materializes the stage right after
the call returns.  A layer is therefore traced as a *segment*: it opens
when the pipeline enters the layer's function and stays open until the
next layer is entered (or the pass ends).  Every segment is a child span
of the pass (batch) or micro-batch (stream) root span, and each carries
its label into Spark as a job description plus the local properties
``perfbench.layer`` and ``perfbench.trace``, so the event log can charge
every job, stage and task to the segment that ran it.

Nothing here changes the engine's code: the wrappers replace module
attributes, and ``Patches.undo`` puts the originals back.
"""

from __future__ import annotations

import functools
import itertools
import sys
import time
from dataclasses import asdict, dataclass

LAYER_PROP = "perfbench.layer"
TRACE_PROP = "perfbench.trace"
GLUE = "pipeline"
GLUE_COUNT = "pipeline.count"


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent_id: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of its interval that its direct
    children cover (overlapping children are merged first)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        lo, hi = s.start, s.end if s.end is not None else s.start
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            a = max(c.start, lo)
            b = min(c.end if c.end is not None else c.start, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (hi - lo) - covered
    return out


class Tracer:
    """Spans kept in memory; segments are the children of the open root.

    `spark_context` (optional) receives the job description and local
    properties on every segment change.  While `enabled` is False every
    wrapper is a plain pass-through and no Spark property is touched."""

    def __init__(self, spark_context=None, clock=time.perf_counter):
        self.sc = spark_context
        self.clock = clock
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._root: Span | None = None
        self._seg: Span | None = None
        self._saved_description: str | None = None

    # --- spans ---------------------------------------------------------
    def begin(self, name: str, trace_id: str) -> Span:
        """Open a root span (one pass or one micro-batch)."""
        self.end()
        if self.sc is not None:
            self._saved_description = self.sc.getLocalProperty(
                "spark.job.description")
        self._root = Span(next(self._ids), name, trace_id, None, self.clock())
        self.spans.append(self._root)
        return self._root

    def segment(self, label: str) -> None:
        """Close the open segment and open `label` under the root."""
        if self._root is None:
            return
        now = self.clock()
        if self._seg is not None:
            self._seg.end = now
        self._seg = Span(next(self._ids), label, self._root.trace_id,
                         self._root.span_id, now)
        self.spans.append(self._seg)
        self._tag(label, self._root.trace_id)

    def current(self) -> str | None:
        return self._seg.name if self._seg is not None else None

    def end(self) -> None:
        """Close the open segment and root, and clear the Spark tags."""
        now = self.clock()
        if self._seg is not None:
            self._seg.end = now
            self._seg = None
        if self._root is not None:
            self._root.end = now
            self._root = None
            self._tag(None, None)

    def _tag(self, label: str | None, trace_id: str | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(LAYER_PROP, label)
        self.sc.setLocalProperty(TRACE_PROP, trace_id)
        self.sc.setJobDescription(
            f"perfbench {trace_id} {label}" if label
            else self._saved_description)

    # --- reporting -----------------------------------------------------
    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent_id is None]

    def children(self, root: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == root.span_id]

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [dict(asdict(s), self_time=st[s.span_id]) for s in self.spans]


class Patches:
    """Attribute replacements that `undo` reverts in reverse order."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, name: str, make):
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def undo(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)


def _enter(tracer: Tracer, label: str):
    def make(fn):
        @functools.wraps(fn)
        def wrapped(*a, **kw):
            if tracer.enabled:
                tracer.segment(label)
            return fn(*a, **kw)
        return wrapped
    return make


# pipeline.py name -> layer; exact_groups belongs to the normalize layer,
# explode_bands to candidates (the band table is the candidates input)
BATCH_LAYERS = {
    "normalize": "normalize",
    "exact_groups": "normalize",
    "add_signatures": "signatures",
    "explode_bands": "candidates",
    "candidate_pairs": "candidates",
    "verify_pairs": "verify",
    "connected_components": "cluster",
    "topk_neighbors": "topk",
}
LAYERS = ("normalize", "signatures", "candidates", "verify", "cluster", "topk")


def install_batch(tracer: Tracer) -> Patches:
    """Wrap the layer functions `polyminhash_spark.pipeline` calls, and
    `DataFrame.count` so that counts the pipeline makes outside its
    stage materialization (the AUTO resolutions) are charged to glue."""
    from polyminhash_spark import pipeline

    try:  # Spark 4: the concrete class overrides count
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    p = Patches()
    for name, label in BATCH_LAYERS.items():
        p.wrap(pipeline, name, _enter(tracer, label))
    pipeline_file = pipeline.__file__

    def make_count(orig):
        @functools.wraps(orig)
        def count(self):
            if not tracer.enabled:
                return orig(self)
            caller = sys._getframe(1).f_code
            if caller.co_filename != pipeline_file or caller.co_name == "stage":
                return orig(self)
            tracer.segment(GLUE_COUNT)
            try:
                return orig(self)
            finally:
                tracer.segment(GLUE)
        return count

    p.wrap(DataFrame, "count", make_count)
    return p


STREAM_PHASES = ("index_read", "dedup", "sink_write", "index_append",
                 "compact")


def install_stream(tracer: Tracer, sink_path: str, index_path: str) -> Patches:
    """Wrap the micro-batch handler's phases.  The handler itself opens
    a root span per micro-batch (trace id = batch id) and starts in
    `index_read`, where the parquet read of `index_path` is also
    scanned on its own, so that the growing index scan shows apart from
    the dedup plan that the engine's own scan of it is fused into;
    `incremental_batch_dedup` opens `dedup` and, while traced,
    materializes its result inside the segment so that dedup and the
    sink write separate; parquet writes to the sink and to the index
    open `sink_write` and `index_append`; `compact_index` opens
    `compact` and keeps it across its own reads and writes."""
    from pyspark.sql import DataFrameReader, DataFrameWriter

    from polyminhash_spark.streaming import dedup_stream

    p = Patches()
    cached: list = []

    def run_into_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def make_handler_factory(orig):
        @functools.wraps(orig)
        def factory(*a, **kw):
            handle = orig(*a, **kw)

            def traced(batch_df, batch_id):
                if not tracer.enabled:
                    return handle(batch_df, batch_id)
                tracer.begin("micro_batch", f"b{batch_id}")
                tracer.segment("index_read")
                try:
                    return handle(batch_df, batch_id)
                finally:
                    tracer.end()
                    while cached:
                        cached.pop().unpersist()
            return traced
        return factory

    def make_dedup(orig):
        @functools.wraps(orig)
        def dedup(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            tracer.segment("dedup")
            out = orig(*a, **kw).persist()
            run_into_noop(out)
            cached.append(out)
            return out
        return dedup

    def make_compact(orig):
        @functools.wraps(orig)
        def compact(*a, **kw):
            if tracer.enabled and tracer.current() != "compact":
                tracer.segment("compact")
            return orig(*a, **kw)
        return compact

    def make_read(orig):
        @functools.wraps(orig)
        def parquet(self, *paths, **kw):
            df = orig(self, *paths, **kw)
            if (tracer.enabled and tracer.current() == "index_read"
                    and [str(x).rstrip("/") for x in paths]
                    == [index_path.rstrip("/")]):
                run_into_noop(df)
            return df
        return parquet

    def make_write(orig):
        @functools.wraps(orig)
        def parquet(self, path, *a, **kw):
            if tracer.enabled and tracer.current() != "compact":
                if str(path).rstrip("/") == sink_path.rstrip("/"):
                    tracer.segment("sink_write")
                elif str(path).startswith(index_path):
                    tracer.segment("index_append")
            return orig(self, path, *a, **kw)
        return parquet

    p.wrap(dedup_stream, "make_incremental_handler", make_handler_factory)
    p.wrap(dedup_stream, "incremental_batch_dedup", make_dedup)
    p.wrap(dedup_stream, "compact_index", make_compact)
    p.wrap(DataFrameReader, "parquet", make_read)
    p.wrap(DataFrameWriter, "parquet", make_write)
    return p
