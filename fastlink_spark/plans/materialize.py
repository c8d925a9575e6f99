"""Operator-internal lineage cuts, and the one type that owns their scratch.

Iterative operators (CC rounds, the greedy 1:1 fixpoint, the link_two
pair and score cuts) and HOF-expression producers (minhash band arrays,
gram sets, simhash fingerprints) must cut lineage mid-operator: the plan
would otherwise grow unboundedly / re-inline generator expressions
pathologically (see functions/minhash.py plan-size note). Every operator
takes an optional ``materializer(df, name) -> DataFrame`` callback;
``name`` is a short stage hint. ``resolve(None)`` supplies the default.

``ScopedMaterializer`` is the only place that decides where cuts go:

- Namespace: at its first cut it allocates a fresh ``inv_<n>``
  directory under its root and writes every cut there through
  ``parquet_materializer``. Isolation per invocation is load-bearing in
  both directions: two invocations cutting the same hint can never
  overwrite each other's live scratch, and retention only ever deletes
  cuts WITHIN one namespace, so a later call can't delete the parquet
  backing a DataFrame a caller still holds from an earlier one.
- Root: the one given (``CheckpointManager.materializer()`` passes
  ``<checkpoint root>/_op_stages``), else the discovered scratch root
  (``_discover_root``: ``spark.fastlink.scratchDir`` conf, then
  ``spark.local.dir``/tmp on a local[*] master). On a cluster master
  with no conf there is no shared path, and cuts fall back to
  ``disk_only``.
- Retention: the newest ``KEEP_PER_NAME`` cuts of each name survive.
- Cleanup: ``close()`` deletes the namespace (idempotent; the next cut
  reopens a fresh one). Namespaces that are never closed go with their
  root: the discovered local root is removed by an atexit hook, a
  checkpoint root's ``_op_stages`` is wiped by the next manager on it.

``disk_only`` (``localCheckpoint(eager=True, storageLevel=DISK_ONLY)``)
is the last resort: the DEFAULT deserialized (MEMORY_AND_DISK)
localCheckpoint measurably ANTI-SCALES in a many-thread local block
manager (132-145 s vs 45.5 s parquet for the same 16.7M-row stage —
BENCH/BASELINE.md forensics) and pins large intermediates in executor
memory; DISK_ONLY serialized blocks avoid both, but are still NOT
fault-tolerant on a real cluster (executor loss loses the block).
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

Materializer = Callable[[DataFrame, str], DataFrame]

# cuts kept on disk per name within one namespace (see parquet_materializer)
KEEP_PER_NAME = 2


def disk_only(df: DataFrame, name: str = "") -> DataFrame:
    """Last-resort lineage cut: serialized DISK_ONLY localCheckpoint.
    NOT fault-tolerant on a real cluster (executor loss loses the
    block) — ScopedMaterializer prefers parquet whenever it can
    discover a usable directory."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def _join(root: str, name: str) -> str:
    return f"{root}/{name}" if "://" in root else os.path.join(root, name)


def _rm_path(spark, path: str) -> None:
    """Best-effort scratch deletion: Hadoop FS for URI paths (s3://,
    hdfs:// — shutil can't touch those), shutil locally. A failed
    remote delete is only best-effort, but it must be OBSERVABLE: a
    silently leaked object-store prefix accrues cost forever."""
    if "://" in path:
        try:
            jvm = spark._jvm
            jsc = spark._jsc
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(jsc.hadoopConfiguration())
            fs.delete(hpath, True)
        except Exception as exc:
            import sys

            print(
                f"fastlink: WARNING leaked scratch path {path!r} "
                f"(delete failed: {exc}) — remove it manually or point "
                "spark.fastlink.scratchDir at a TTL-managed prefix",
                file=sys.stderr,
            )
    else:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def parquet_materializer(root: str) -> Materializer:
    """Production-shape cut: parquet write + read-back under ``root``
    (any Hadoop-compatible URI — a local dir here, an object-store
    prefix / Iceberg scratch namespace on a cluster). Repeated cuts
    with the same name get an incrementing suffix (an operator may cut
    several rounds under one hint).

    Retention: only the newest ``KEEP_PER_NAME`` cuts of each name are
    kept on disk — when cut N is written, cut N-KEEP_PER_NAME is
    deleted. An iterative operator's round N-2 data fed round N-1's
    write and nothing reads it afterwards, so without this a 15-round
    CC would hold 15 full edge-set copies of dead scratch. Contract: a
    cut's returned DataFrame must not be re-read after KEEP_PER_NAME
    newer cuts of the SAME name (iterative operators roll their
    accumulators through retained cuts — see dedupe_matches)."""
    counts: dict[str, int] = {}

    def mat(df: DataFrame, name: str = "") -> DataFrame:
        base = name or "stage"
        idx = counts.get(base, 0)
        counts[base] = idx + 1
        path = _join(root, f"{base}_{idx:03d}")
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
        old = idx - KEEP_PER_NAME
        if old >= 0:
            _rm_path(df.sparkSession, _join(root, f"{base}_{old:03d}"))
        return out

    return mat


# applicationId -> discovered scratch root (None: no usable root)
_app_roots: dict[str, str | None] = {}
# scratch root -> namespace numbers; per root, so the numbers under one
# root never repeat within a process (setdefault and next() on a count
# are single C calls, so concurrent allocations can't collide)
_namespaces: dict[str, itertools.count] = {}


def _discover_root(spark) -> str | None:
    """Scratch root for cuts without an explicit root, discovered once
    per application:

    1. ``spark.fastlink.scratchDir`` conf (any Hadoop URI — THE knob to
       set on a real cluster, where executor-local paths aren't shared)
       -> parquet cuts under <dir>/fastlink_scratch_<appId>. NOTE:
       nothing can clean a remote prefix after the JVM exits — point it
       at a lifecycle-managed (TTL) prefix; local-tmp roots are removed
       by an atexit hook instead.
    2. local[*] master: first entry of ``spark.local.dir`` (else the
       system tmpdir) — driver FS == executor FS in local mode, so a
       plain directory is a valid shared parquet target.
    3. otherwise (cluster master, no conf): None -> DISK_ONLY
       localCheckpoint — the only cut that needs no shared storage;
       non-fault-tolerant, documented here rather than silently writing
       to paths executors can't all see.
    """
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _app_roots:
        return _app_roots[app]
    try:
        root = spark.conf.get("spark.fastlink.scratchDir")
    except Exception:
        root = None
    scratch: str | None
    if root:
        scratch = root.rstrip("/") + f"/fastlink_scratch_{app}"
    elif sc.master.startswith("local"):
        try:
            base = spark.conf.get("spark.local.dir")
        except Exception:
            base = None
        if not base:
            import tempfile

            base = tempfile.gettempdir()
        scratch = os.path.join(base.split(",")[0], f"fastlink_scratch_{app}")
        try:
            os.makedirs(scratch, exist_ok=True)
            ok = os.access(scratch, os.W_OK)
        except OSError:
            ok = False
        if ok:
            import atexit
            import shutil

            atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        else:
            scratch = None
    else:
        scratch = None
    _app_roots[app] = scratch
    return scratch


class ScopedMaterializer:
    """One invocation's scratch: a fresh ``inv_<n>`` parquet namespace
    under ``root`` (default: the discovered scratch root), bound lazily
    at the first cut to that frame's Spark session. Callers that know
    their cuts' lifetime (e.g. IncrementalLinker.process_batch: nothing
    re-reads the cuts after the state commit) ``close()`` it when done,
    so a long-running driver doesn't keep every batch's intermediates
    until JVM exit. close() is idempotent; a cut after close reopens a
    fresh namespace."""

    def __init__(self, root: str | None = None):
        self._root = root
        self._spark = None
        self._inv_dir: str | None = None
        self._mat: Materializer | None = None

    def __call__(self, df: DataFrame, name: str = "") -> DataFrame:
        if self._mat is None:
            self._spark = df.sparkSession
            root = self._root if self._root is not None else _discover_root(self._spark)
            if root is None:
                self._mat = disk_only
            else:
                n = next(_namespaces.setdefault(root, itertools.count()))
                self._inv_dir = _join(root, f"inv_{n:04d}")
                self._mat = parquet_materializer(self._inv_dir)
        return self._mat(df, name)

    def close(self) -> None:
        if self._inv_dir is not None:
            _rm_path(self._spark, self._inv_dir)
        self._inv_dir = None
        self._mat = None


def resolve(materializer: Materializer | None) -> Materializer:
    """Explicit materializer passes through; None returns a fresh
    ScopedMaterializer on the discovered scratch root."""
    return materializer if materializer is not None else ScopedMaterializer()
