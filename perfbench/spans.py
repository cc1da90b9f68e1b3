"""Spans around the calls into each layer, recorded from the benchmark.

A span has a name (``<layer>.<what>``), a start and end, and its parent
span. While a span is open its group id (``<name>#<n>``, unique per
span) is the Spark job group of the driver thread, so every job Spark
runs inside it carries the id in the event log (``eventlog.parse``
attributes jobs, stages and tasks by it). Spans are kept in memory and summarised after the run.

``Tracer.patch`` replaces a product function by a span-recording
wrapper in every loaded product module that imported it (``from x
import f`` binds the name in the importer too) and ``Tracer.unpatch``
puts the originals back. With ``enabled=False`` nothing is patched, no job
group is set and ``span`` only yields.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

PRODUCT_MODULES = ("github_data_pipeline_spark", "run_databuild")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.groups: dict[str, dict] = {}
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, tag: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{len(self.groups)}"
        rec = {"name": name, "tag": tag, "parent": parent, "child_s": 0.0, "group": group}
        self.groups[group] = rec
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            dur = rec["end"] - rec["start"]
            if parent is not None:
                parent["child_s"] += dur
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, fn, name: str) -> None:
        """Route every imported reference to ``fn`` through a span."""
        if self.enabled:
            self._patched += replace_everywhere(fn, self.wrap(fn, name))

    def unpatch(self) -> None:
        restore(self._patched)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """{span name: summed self time} (duration minus child spans)."""
        out: dict[str, float] = {}
        for s in self.spans:
            self_s = s["end"] - s["start"] - s["child_s"]
            out[s["name"]] = out.get(s["name"], 0.0) + self_s
        return out

    def tagged_s(self, tag: str) -> float:
        """Summed duration of the outermost spans carrying ``tag``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["tag"] == tag and (s["parent"] is None or s["parent"]["tag"] != tag)
        )


def replace_everywhere(fn, new) -> list[tuple[object, str, object]]:
    """Bind ``new`` wherever a loaded product module holds ``fn``;
    returns what ``restore`` needs to undo it."""
    done = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PRODUCT_MODULES):
            continue
        for attr, value in list(vars(mod).items()):
            if value is fn:
                setattr(mod, attr, new)
                done.append((mod, attr, fn))
    return done


def restore(patched) -> None:
    for owner, attr, fn in reversed(patched):
        setattr(owner, attr, fn)
