"""Benchmark-side spans around calls into the library's layers.

Spans are recorded from the benchmark's own files only: the library is
not edited. Inside ``run_pipeline`` the stage functions are looked up as
module globals of ``go_dedupe_spark.plans.pipeline``, so ``instrument``
swaps them for wrappers while a traced job runs.

A pipeline stage function returns a lazy DataFrame; its work runs when
the pipeline materializes the stage right after the call. A stage span
therefore opens when the pipeline calls the stage function and closes
when it calls the next one, or when ``run_pipeline`` returns (a *phase*).
Every span sets the Spark job group to its name, so the event-log ledger
can group jobs by span.

The checkpoint store's calls are recorded, not timed: ``write`` receives
the stage's lazy DataFrame, so a span around it would hold the whole
stage's compute, and ``read`` only builds a lazy scan whose I/O runs in
the next stage. The workload replays the recorded calls after the traced
job, on tables already in memory, to time the store alone.
"""

from __future__ import annotations

import inspect
import time
from collections import defaultdict
from contextlib import contextmanager

# pipeline module global -> span name
PIPELINE_STAGES = {
    "normalize": "normalize",
    "make_blocks": "blocking",
    "candidate_pairs": "pairs",
    "build_features": "features",
    "score_pairs": "scoring",
    "connected_components": "components",
    "resolve_clusters": "resolve",
}
OUTSIDE = "outside"


class Tracer:
    """Records (name, start, end) spans and sets the job group to the
    innermost open span or phase.

    A disabled tracer does nothing, so traced and untraced jobs run the
    same benchmark code."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, int] = defaultdict(int)
        # checkpoint store calls seen: stage -> (input_snapshot, sort_by)
        # for writes, (stage, input_snapshot) in call order for reads
        self.ckpt_writes: dict[str, tuple[str, list | None]] = {}
        self.ckpt_reads: list[tuple[str, str]] = []
        # open spans and phases, innermost last: (name, is_phase, start)
        self._stack: list[tuple[str, bool, float]] = []
        self._phase_suffix = ""

    def _push(self, name: str, is_phase: bool) -> None:
        self._stack.append((name, is_phase, time.monotonic()))
        self.spark.sparkContext.setJobGroup(name, name)

    def _pop(self) -> None:
        name, _, t0 = self._stack.pop()
        self.spans.append((name, t0, time.monotonic()))
        top = self._stack[-1][0] if self._stack else OUTSIDE
        self.spark.sparkContext.setJobGroup(top, top)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._push(name, False)
        try:
            yield
        finally:
            self._pop()

    def phase(self, name: str) -> None:
        """Close the open phase (if innermost) and open ``name``."""
        if not self.enabled:
            return
        self.end_phase()
        self._push(name + self._phase_suffix, True)

    def end_phase(self) -> None:
        if self.enabled and self._stack and self._stack[-1][1]:
            self._pop()

    @contextmanager
    def pipeline(self, stage_spans: bool = False):
        """Span around one ``run_pipeline`` call; closes its last phase.

        Only a run with ``stage_spans`` reports its phases under the
        stage names; the phases of other runs get a ``@ckpt`` suffix so
        the stage metrics describe the storeless run alone."""
        self._phase_suffix = "" if stage_spans else "@ckpt"
        with self.span("pipeline"):
            try:
                yield
            finally:
                self.end_phase()

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1 in self.spans:
            out[name] += t1 - t0
        return dict(out)


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the pipeline's stage functions so their calls become phases
    of ``tracer``, and record the checkpoint store's reads and writes."""
    from go_dedupe_spark.operators import components
    from go_dedupe_spark.plans import checkpoint, pipeline

    saved: list[tuple[object, str, object]] = []

    def swap(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def as_phase(name):
        def make(fn):
            def wrapper(*args, **kwargs):
                tracer.phase(name)
                return fn(*args, **kwargs)
            return wrapper
        return make

    def recorded(record):
        def make(fn):
            sig = inspect.signature(fn)

            def wrapper(*args, **kwargs):
                call = sig.bind(*args, **kwargs)
                call.apply_defaults()
                record(call.arguments)
                return fn(*args, **kwargs)
            return wrapper
        return make

    def on_write(a):
        tracer.ckpt_writes[a["stage"]] = (a["input_snapshot"], a["sort_by"])

    def on_read(a):
        tracer.ckpt_reads.append((a["stage"], a["input_snapshot"]))

    def counted(name):
        def make(fn):
            def wrapper(*args, **kwargs):
                tracer.counts[name] += 1
                return fn(*args, **kwargs)
            return wrapper
        return make

    store = checkpoint.CheckpointStore
    try:
        for attr, name in PIPELINE_STAGES.items():
            swap(pipeline, attr, as_phase(name))
        swap(store, "read", recorded(on_read))
        swap(store, "write", recorded(on_write))
        swap(components, "_driver_union_find", counted("cc_driver_calls"))
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
