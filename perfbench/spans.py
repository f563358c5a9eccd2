"""Spans around calls into palo_spark's modules.

The engine is not instrumented: :meth:`Tracer.install` replaces public
functions of the engine's modules with wrappers, from the outside, for
the life of one benchmark process. A wrapper records one span per call
(name, start, end, parent span, operation id) while the tracer is
active and calls straight through while it is not, so a run can
alternate traced and untraced cycles and measure its own overhead.

Spans stay in memory and are written once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict

#: (module, attribute, span name). A function imported by name into a
#: second module is wrapped there too, since callers resolve it through
#: that module's globals.
TARGETS = [
    ("palo_spark.session", "get_session", "session.get_session"),
    ("palo_spark.catalog", "register_views", "catalog.register_views"),
    ("palo_spark.catalog", "load_table", "catalog.load_table"),
    ("palo_spark.sql_frontend", "translate", "sql_frontend.translate"),
    ("palo_spark.palo_session", "translate", "sql_frontend.translate"),
    ("palo_spark.sql_frontend", "doris_sql", "sql_frontend.doris_sql"),
    ("palo_spark.palo_session", "doris_sql", "sql_frontend.doris_sql"),
    ("palo_spark.palo_session", "PaloSession.sql", "palo_session.sql"),
    ("palo_spark.tables", "Table.read", "tables.read"),
    ("palo_spark.tables", "Table.insert", "tables.insert"),
    ("palo_spark.tables", "Table.compact", "tables.compact"),
    ("palo_spark.sources", "stream_load", "sources.stream_load"),
    ("palo_spark.operators.dedup", "dedup_exact", "operators.dedup_exact"),
    ("palo_spark.operators.dedup", "dedup_minhash", "operators.dedup_minhash"),
    ("palo_spark.operators.text", "quality_score", "operators.text_filter"),
    ("palo_spark.operators.text", "lang_id", "operators.text_filter"),
    ("palo_spark.operators.text", "gopher_rules", "operators.text_filter"),
    ("palo_spark.operators.text", "redact_pii", "operators.redact_pii"),
    ("palo_spark.operators.text", "chunk_documents", "operators.chunk"),
    ("palo_spark.operators.similarity", "similarity_topk", "operators.similarity_topk"),
]


class Tracer:
    """Records spans while :attr:`active`; one instance per process."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.op_id = 0
        self._stack: list[int] = []

    # -------------------------------------------------------- recording

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with _Span(tracer, name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every target in :data:`TARGETS`, for the process's life."""
        for mod_name, attr, name in TARGETS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrap(fn, name))

    # ---------------------------------------------------------- reports

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child: dict[int, float] = defaultdict(float)
        for name, t0, t1, parent, _op in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _parent, _op) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line: name, start, end, parent, op."""
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({
                    "name": name, "start": t0, "end": t1,
                    "parent": parent, "op": op,
                }) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "t0", "idx")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        tr = self.tracer
        self.idx = len(tr.spans)
        parent = tr._stack[-1] if tr._stack else -1
        tr.spans.append((self.name, 0.0, 0.0, parent, tr.op_id))
        tr._stack.append(self.idx)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        tr = self.tracer
        tr._stack.pop()
        name, _, _, parent, op = tr.spans[self.idx]
        tr.spans[self.idx] = (name, self.t0, t1, parent, op)
        return False
