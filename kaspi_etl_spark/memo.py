"""The engine's one memo: build-time values reused across query builds.

Building a query plan pays py4j round-trips the data never sees: every
``spark.read.parquet`` lists files and infers a schema (~0.1 s), a shared
source derivation re-runs the analyzer (0.05-0.15 s), and a large
expression tree (a MinHash signature, an LSH bucket fold, a 1024-entry
lookup table) costs up to seconds of py4j calls. All of those are pure
functions of a small key, so they are built once and reused from here.

Three conditions make the reuse safe:

- It holds expressions, scan handles and plans, never query results.
  A cached scan or plan is a lazy DataFrame: every action re-executes it
  from the parquet files. The one computed value is the logistic-
  regression model, a pure function of its guarded source table.
- Cached Columns are py4j handles to unresolved JVM expressions, bound
  to no DataFrame or session. They stay valid for the life of the JVM
  gateway, which outlives any stopped session in the same process.
- Source-table entries are fingerprint-guarded. A scan handle carries the
  (path, size, mtime) listing of its table, and a plan or model carries
  the listings of every table its build read, so a table rewritten in
  place is re-read instead of being served through a frozen file
  listing. A guarded hit costs one listing per table (~2-3 ms through
  py4j for a one-file table on a 4-core host, against ~0.1-0.5 s for a
  new scan).

Session-bound entries (scans, plans) hold their ``SparkSession`` in the
key, so another session never sees them. The store is one locked LRU of
``MAX_ENTRIES``, above the largest working set one build of every
registered query puts here; values are built outside the lock, so two
builders may race to build the same key and the last one is kept.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError

MAX_ENTRIES = 256
_ENTRIES: OrderedDict = OrderedDict()  # key -> (value, guard)
_LOCK = threading.Lock()
_BUILDS = threading.local()  # .reads: guards seen by each guarded build in progress


def digest(obj) -> bytes:
    """A fixed-size key part for a large constant (array values, plane
    matrices): 16 bytes of BLAKE2b over its repr, which is exact for
    ints and floats."""
    return hashlib.blake2b(repr(obj).encode(), digest_size=16).digest()


def fingerprint(spark, path: str) -> tuple | None:
    """(path, size, mtime) of every file under ``path``, through the
    session's Hadoop filesystem; None when ``path`` does not exist."""
    # JavaClass by name: resolving jvm.org.apache.hadoop.fs.Path walks
    # the package one py4j round-trip per segment (~1.5 ms a call).
    jpath = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    try:
        todo = [fs.getFileStatus(jpath)]
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        return None  # the build raises Spark's own error
    while todo:
        st = todo.pop()
        if st.isDirectory():
            todo.extend(fs.listStatus(st.getPath()))
        else:
            out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def get(key, build, spark=None, path: str | None = None):
    """The value memoized under ``key``, made by ``build()`` on a miss.

    Without ``spark`` the entry is unguarded (expressions). With it, the
    entry is guarded by table listings: ``path``'s own for a scan,
    otherwise those of every guarded entry looked up while ``build`` ran.
    A guarded hit re-lists its tables and rebuilds if any changed.
    """
    with _LOCK:
        entry = _ENTRIES.get(key)
        if entry is not None:
            _ENTRIES.move_to_end(key)
    if entry is not None:
        value, guard = entry
        if spark is None:
            return value
        if all(fingerprint(spark, p) == fp for p, fp in guard):
            _seen(guard)
            return value
    guard = None
    if spark is None:
        value = build()
    elif path is not None:
        guard = ((path, fingerprint(spark, path)),)  # listed before the build reads
        value = build()
    else:
        stack = _BUILDS.__dict__.setdefault("reads", [])
        stack.append({})
        try:
            value = build()
        finally:
            guard = tuple(sorted(stack.pop().items()))
    with _LOCK:
        _ENTRIES[key] = (value, guard)
        _ENTRIES.move_to_end(key)
        while len(_ENTRIES) > MAX_ENTRIES:
            _ENTRIES.popitem(last=False)
    if guard:
        _seen(guard)
    return value


def _seen(guard: tuple) -> None:
    """Add a guarded entry's listings to the guard of the enclosing build."""
    stack = getattr(_BUILDS, "reads", None)
    if stack:
        stack[-1].update(guard)
