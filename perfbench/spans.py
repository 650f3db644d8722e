"""Span recorder for the traced run.

The benchmark wraps the package's public layer functions from the
outside (module attributes are replaced for the life of the process;
no program file changes). Each call becomes a span with a name, start,
end and parent. Spans stay in memory and are written out once, at the
end of the run.

While the recorder is disabled the wrappers still tag Spark jobs with
``setJobDescription`` (so the event log can be cut by pass and recipe)
but record nothing, which is how the traced run also times untraced
passes in the same session to measure the tracing overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    tag: str
    pass_id: str
    start: float
    end: float
    parent: int | None


class Recorder:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.pass_id = "setup"
        self._stack: list[int] = []

    def describe(self, what: str) -> None:
        """Tag the Spark jobs this thread starts from now on."""
        self.sc.setJobDescription(f"{self.pass_id}|{what}")

    @contextmanager
    def span(self, name: str, tag: str = ""):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, tag, self.pass_id, time.perf_counter(), 0.0, parent)
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, module, attr: str, name: str, tag_of=None, describe: bool = False):
        """Replace ``module.attr`` with a spanned call. ``tag_of(args)``
        names the recipe/source the call belongs to; ``describe`` also
        tags the Spark jobs that follow with it."""
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            tag = tag_of(args) if tag_of else ""
            if describe:
                self.describe(f"{name}:{tag}")
            with self.span(name, tag):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        setattr(module, attr, wrapped)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def install(rec: Recorder) -> None:
    """Wrap the layer entry points that ``run_pipeline`` reaches.

    Each attribute is replaced where the caller looks it up: the
    executor imported ``compile_plan``, ``build_recipe_frame`` and
    ``sequential_id`` into its own namespace, while ``read_source`` and
    ``write_target`` are imported from their packages at call time.
    """
    import tensei_agent_spark.sinks as sinks
    import tensei_agent_spark.sinks.jdbc as jdbc
    import tensei_agent_spark.sources as sources
    from tensei_agent_spark.plans import executor

    rec.wrap(executor, "compile_plan", "plans.compile")
    rec.wrap(executor, "build_recipe_frame", "plans.build", lambda a: a[0].name,
             describe=True)
    rec.wrap(executor, "sequential_id", "functions.sequential_id")
    rec.wrap(sources, "read_source", "sources.read", lambda a: a[1].name, describe=True)
    rec.wrap(sinks, "prepare", "sinks.prepare", lambda a: a[1].name)
    rec.wrap(sinks, "write_target", "sinks.write", lambda a: a[1].name)
    rec.wrap(jdbc, "jvm_write_rows", "sinks.jdbc.push", lambda a: a[2])
    rec.wrap(jdbc, "jvm_execute", "sinks.jdbc.execute",
             lambda a: "merge" if any("MERGE" in s for s in a[2]) else "ddl")


def self_times(spans: list[Span]) -> list[float]:
    """Span duration minus the time its direct children cover (calls
    within one thread nest, so children never overlap)."""
    own = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.end - s.start
    return own
