"""One build of the whole catalog: the plans the plan lint reads and a
per-query fingerprint of everything the query's result depends on.

``build_catalog(spark)`` constructs every catalog query on sf0.001 and
returns, per query, the executed plan text (``tests/test_plan_lint.py``
lints it) and a hash over four parts:

1. the **analyzed plan**. The optimized plan is not stable:
   ``RewriteDistinctAggregates`` numbers its ``gid`` in expression-ID
   order, so it depends on what the session built before. The
   executed plan's ``DataFilters`` are cut at a length that depends
   on the ID digits;
2. the physical plan of every **eager SQL execution** the
   construction issued (checkpoints, guard counts, collects), read
   from the session's SQL status store. A checkpointed
   ``LogicalRDD`` hides its upstream from the final plan;
3. the source and captured values of every **Python UDF** the build
   applies (``pandas_udf``, ``mapInPandas``, ``applyInPandas``; all go
   through ``UserDefinedFunction.__call__``), with the package
   functions they call, and the class body of every **Python UDTF**
   it registers for SQL (``spark.udtf.register``; SQL calls it by
   name, not through ``__call__``). UDF bodies never appear in plan
   text;
4. the query's **oracle SQL**, whitespace collapsed.

Plan text is normalized first: expression IDs, ``plan_id``, RDD ids,
file locations, object addresses and call sites are run-dependent.
The build runs with AQE off (adaptive plans carry run-dependent
stage IDs and partition counts), with ``session_memo`` emptied before
each query (a memoized build would otherwise be charged to whichever
query ran first), with auto-broadcast off and with the default
parallelism pinned to :data:`PARALLELISM` (see :data:`BUILD_CONFS`
and :func:`pinned`): block counts, repartition widths and ``range``
splits are read from it, so an unpinned build hashes differently on
every core count.
Eager plans and UDF records are hashed as multisets: a query may
issue its eager jobs from a thread pool (``rfm_segmentation`` does),
so their order is not part of what the query computes.

``plans/fingerprints.json`` holds each query's ``[hash, round]``, where
``round`` is the round in which the hash last changed; regenerate it
with ``python tools/dump_plans.py``.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import os
import re
import textwrap
import types
from contextlib import contextmanager
from typing import NamedTuple

import numpy as np
from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql.udf import UserDefinedFunction
from pyspark.sql.udtf import UDTFRegistration

from dbm_nca_ph_etl_spark import session
from dbm_nca_ph_etl_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: The default parallelism every build sees, whatever the host's cores.
PARALLELISM = 4

#: The committed fingerprints, ``{query: [hash, round]}``.
FINGERPRINTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "plans",
    "fingerprints.json",
)

_PACKAGE = __name__.split(".")[0]

_NOISE = [
    (re.compile(r"#\d+L?"), "#"),  # expression IDs
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\w*RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),  # lambda-variable counters
    (re.compile(r"\b(Location: \w+) \[[^\]]*\]"), r"\1 […]"),
    (re.compile(r"file:[^\s,\]\)]+"), "file:…"),
    (re.compile(r"\bpath=[^,\]]+"), "path=…"),
    (re.compile(r"@[0-9a-f]{4,}\b|\b0x[0-9a-f]+\b"), "@…"),  # object addresses
    (re.compile(r" at [^\s,\]]+:\d+"), ""),  # call sites
]


def normalize(text: str) -> str:
    """Plan text with its run-dependent tokens replaced."""
    for pattern, repl in _NOISE:
        text = pattern.sub(repl, text)
    return text


class Built(NamedTuple):
    plan: str  # executedPlan().toString(), as the plan lint reads it
    digest: str


#: The session confs of the build, on top of :func:`pinned`. Auto-broadcast
#: is off: at sf0.001 everything is broadcastable by size, which would
#: hide scale hazards from the lint. With the threshold off, only joins
#: the query explicitly engineered (an ``F.broadcast`` hint, an equi-key
#: for SMJ) keep a distributed shape, and a query leaning on "the side
#: happens to be small today" plans a CartesianProduct.
BUILD_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.maxMetadataStringLength": "100",
}


@contextmanager
def pinned(spark: SparkSession, confs: dict[str, str]):
    """``confs`` set on the session, with the shuffle width and the
    default parallelism (Python's ``SparkContext.defaultParallelism``
    and the JVM's leaf-node parallelism behind ``range`` and file
    splits) pinned, so plans built inside read the same in every
    session on any host; all restored afterwards."""
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.leafNodeDefaultParallelism": str(PARALLELISM),
        **confs,
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    parallelism = SparkContext.defaultParallelism
    SparkContext.defaultParallelism = property(lambda _: PARALLELISM)
    try:
        yield
    finally:
        SparkContext.defaultParallelism = parallelism
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def build_catalog(spark: SparkSession, names=None) -> dict[str, Built]:
    """Build ``names`` (default: the whole catalog), in that order."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    out = {}
    with pinned(spark, BUILD_CONFS), _recording_udfs() as udfs:
        bus.waitUntilEmpty()
        last = _last_execution(store)
        for name in names or QUERIES:
            session._MEMO.clear()
            udfs.clear()
            df = QUERIES[name].fn(spark, SF_DIR)
            bus.waitUntilEmpty()
            eager = _executions_since(store, last)
            last = eager[-1][0] if eager else last
            parts = [normalize(df._jdf.queryExecution().analyzed().toString())]
            parts += sorted(normalize(plan) for _, plan in eager)
            parts += sorted(udfs)
            parts.append(" ".join((QUERIES[name].oracle or "").split()))
            plan = df._jdf.queryExecution().executedPlan().toString()
            out[name] = Built(plan, _digest(parts))
    return out


def _digest(parts: list[str]) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(part.encode("utf-8"))
        h.update(b"\0")
    return h.hexdigest()[:16]


def _last_execution(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _executions_since(store, last: int) -> list[tuple[int, str]]:
    """``(id, physical plan)`` of every SQL execution after ``last``,
    oldest first. The store keeps executions in id order and drops the
    oldest past ``spark.sql.ui.retainedExecutions``, so the new ones
    are its tail."""
    out: list[tuple[int, str]] = []
    end = store.executionsCount()
    while end > 0:
        start = max(0, end - 16)
        page = store.executionsList(start, end - start)
        rows = [page.apply(i) for i in range(page.size())]
        new = [(e.executionId(), e.physicalPlanDescription()) for e in rows]
        out[:0] = [e for e in new if e[0] > last]
        if new[0][0] <= last:
            break
        end = start
    return out


@contextmanager
def _recording_udfs():
    """Record a fingerprint of each Python UDF applied to a column and
    of each Python UDTF registered for SQL."""
    seen: list[str] = []
    real, real_register = UserDefinedFunction.__call__, UDTFRegistration.register

    def call(self, *args, **kwargs):
        seen.append(f"{self.evalType} {self.returnType} {_code(self.func, set())}")
        return real(self, *args, **kwargs)

    def register(self, name, f):
        seen.append(f"{name} {f.evalType} {f.returnType} {_code(f.func, set())}")
        return real_register(self, name, f)

    UserDefinedFunction.__call__, UDTFRegistration.register = call, register
    try:
        yield seen
    finally:
        UserDefinedFunction.__call__, UDTFRegistration.register = real, real_register


def _code(fn, seen: set) -> str:
    """A function's syntax tree (no docstrings or comments), its
    captured values, and the same for every package function or class
    it names."""
    if id(fn) in seen:
        return fn.__qualname__
    seen.add(id(fn))
    out = [_syntax(fn)]
    code = getattr(fn, "__code__", None)
    if code is None:  # a class
        return out[0]
    cells = zip(code.co_freevars, fn.__closure__ or ())
    out += [f"{name}={_value(c.cell_contents, seen)}" for name, c in cells]
    out += [_value(fn.__defaults__, seen), _value(fn.__kwdefaults__, seen)]
    for name in sorted(_names(code)):
        ref = fn.__globals__.get(name)
        if _is_ours(ref):
            out.append(f"{name}:{_code(ref, seen)}")
        elif isinstance(ref, (bool, int, float, str, bytes, tuple, frozenset)):
            out.append(f"{name}={ref!r}")
    return "\n".join(out)


def _syntax(obj) -> str:
    src = textwrap.dedent(inspect.getsource(obj))
    try:
        tree = ast.parse(src)
    except SyntaxError:  # a lambda cut out of a larger expression
        return " ".join(src.split())
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]
    return ast.dump(tree)


def _names(code: types.CodeType) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _names(const)
    return names


def _is_ours(obj) -> bool:
    return isinstance(obj, (types.FunctionType, type)) and (
        getattr(obj, "__module__", "") or ""
    ).startswith(_PACKAGE)


def _value(v, seen: set) -> str:
    if isinstance(v, np.ndarray):
        data = hashlib.sha256(np.ascontiguousarray(v).tobytes()).hexdigest()
        return f"ndarray({v.dtype}, {v.shape}, {data})"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_value(x, seen) for x in v) + "]"
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(_value(x, seen) for x in v)) + "}"
    if isinstance(v, dict):
        items = sorted((_value(k, seen), _value(x, seen)) for k, x in v.items())
        return "{" + ", ".join(f"{k}: {x}" for k, x in items) + "}"
    if isinstance(v, types.FunctionType):
        return _code(v, seen)
    return normalize(repr(v))


def read_fingerprints() -> dict[str, list]:
    """``{query: [hash, round]}`` from the committed file ({} if it is
    missing or unreadable)."""
    try:
        with open(FINGERPRINTS, encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def write_fingerprints(entries: dict[str, list]) -> None:
    """One query per line, sorted, so a regeneration diffs by query."""
    lines = [f"  {json.dumps(n)}: {json.dumps(entries[n])}" for n in sorted(entries)]
    with open(FINGERPRINTS, "w", encoding="utf-8") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
