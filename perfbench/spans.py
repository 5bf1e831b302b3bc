"""In-memory span recorder and the wrappers that time engine calls from outside.

A traced run wraps the public entry points listed in ``WRAPPED`` where
the engine looks them up (module globals and class attributes), so calls
the engine makes internally are timed too. Spans stay in memory and are
written out when the run ends. An untraced run installs nothing.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

from stats import Span

PKG = "distributed_web_scrapper_and_crawler_spark"

# (module, attribute); the span takes the attribute's last name. A function
# imported by name into another module is wrapped in each module that calls it.
WRAPPED = [
    (f"{PKG}.plans.crawl", "run_round"),
    (f"{PKG}.plans.crawl", "add_df_to_filter"),
    (f"{PKG}.plans.round", "add_df_to_filter"),
    (f"{PKG}.plans.crawl", "assign_global_seq"),
    (f"{PKG}.plans.round", "assign_global_seq"),
    (f"{PKG}.plans.checkpoint", "CheckpointStore.write_round"),
    (f"{PKG}.plans.checkpoint", "CheckpointStore.load_state"),
]


class Tracer:
    """Records spans; with a session, tags each operation's Spark jobs."""

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: str | None = None
        self._spark = spark

    @contextlib.contextmanager
    def op(self, op_id: str, name: str):
        """Top-level span of one operation; its Spark jobs carry ``op_id``
        as their job group."""
        self._op = op_id
        if self._spark is not None:
            self._spark.sparkContext.setJobGroup(op_id, name)
        try:
            with self.span(name) as s:
                yield s
        finally:
            if self._spark is not None:
                self._spark.sparkContext.setJobGroup("", "")
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(
            name=name,
            start=time.time(),
            end=0.0,
            id=len(self.spans),
            parent=self._stack[-1].id if self._stack else None,
            op=self._op,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def wrapped(self):
        """Install the ``WRAPPED`` span wrappers; restore the originals on exit."""
        saved = []
        try:
            for mod_name, attr in WRAPPED:
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = getattr(owner, leaf)
                saved.append((owner, leaf, orig))
                setattr(owner, leaf, self.timed(leaf, orig))
            yield self
        finally:
            for owner, leaf, orig in reversed(saved):
                setattr(owner, leaf, orig)
