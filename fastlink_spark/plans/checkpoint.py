"""Stage checkpointing with per-partition lineage + counters.

BASELINE.json north_star/north_rule: "Every stage checkpoints to
Iceberg with per-partition lineage and counters so the pipeline resumes
mid-run". This sandbox has no Iceberg runtime jar, so the manager
writes the identical layout to a Parquet directory per stage:

    <root>/<stage>/                 parquet data (the checkpoint)
    <root>/<stage>.manifest.json    lineage: stage name, input stages,
                                    config hash, row count, schema,
                                    per-partition row counters

Resume: if a stage directory + manifest exist and the manifest's
resume token matches, the stage is READ instead of recomputed. The
token chains CONTENT: it includes the config hash, the input stage
names, AND each upstream manifest's content fingerprint (row count +
order-insensitive bit_xor of per-row xxhash64). Deleting and rebuilding
an upstream stage to different contents therefore invalidates every
stage downstream of it automatically; the first stage takes an
``extra_token`` from the caller (an Iceberg snapshot id in production;
the input plan's semanticHash in this sandbox) to tie it to the raw
input.
On a cluster the same class pointed at an Iceberg catalog would use
``df.writeTo(tbl).createOrReplace()``; the interface is the only thing
the pipeline sees.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fp_aggs(df: DataFrame) -> list:
    """THE fingerprint aggregate recipe — one definition shared by the
    standalone scan (content_fingerprint) and the piggybacked
    observation (fingerprint_observation) so the two can never drift."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(h.cast("decimal(38,0)")).alias("hsum"),
    ]


def _fp_format(row) -> tuple[int, str]:
    rows = int(row["rows"])
    fingerprint = (
        f"{rows}:{row['xor'] if row['xor'] is not None else 0}"
        f":{row['hsum'] if row['hsum'] is not None else 0}"
    )
    return rows, fingerprint


def content_fingerprint(df: DataFrame) -> tuple[int, str]:
    """One-pass (row_count, checksum) over every column. bit_xor ALONE
    is self-canceling on duplicate rows (an upstream rebuild swapping
    two copies of row X for two copies of row Y would fingerprint
    identically); the decimal SUM term breaks that — any multiplicity
    change moves the sum. Both terms are order-insensitive, so the
    checksum is partitioning-independent."""
    return _fp_format(df.agg(*_fp_aggs(df)).collect()[0])


def fingerprint_observation(df: DataFrame):
    """(observed_df, resolver): attach the content-fingerprint
    aggregates as a query Observation so the NEXT action over the
    returned DataFrame (a checkpoint parquet write, a localCheckpoint
    cut) computes them in the SAME pass — the standalone
    content_fingerprint scan re-read every byte of a stage that the
    write had just streamed (r8 optimization, guide §1.2 "don't compute
    things twice": one full-column scan per checkpoint stage and per CC
    round removed). resolver() returns (rows, fingerprint) identical to
    content_fingerprint by shared recipe (_fp_aggs/_fp_format). If no
    action has produced the metrics within the timeout (an injected
    materializer that defers its action), resolver falls back to the
    standalone scan — correctness never depends on the observation
    firing."""
    import threading

    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *_fp_aggs(df))

    def resolver(fallback_df: DataFrame | None = None, timeout: float = 60.0):
        got: dict = {}
        t = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
        t.start()
        t.join(timeout=timeout)
        if t.is_alive():  # action never fired (or is still running)
            return content_fingerprint(fallback_df if fallback_df is not None else df)
        return _fp_format(got)

    return observed, resolver


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str | None, config_token: str = ""):
        if root is not None and "://" in root:
            # manifest/json IO here is os-path based (open/exists/
            # rmtree) — a URI root would write parquet remotely but
            # then crash (or silently skip the orphan wipe) on the
            # manifest step. Loud beats half-working (r5 review); the
            # production shape for remote checkpointing is an Iceberg
            # catalog (module docstring), or mount the shared FS.
            raise ValueError(
                f"CheckpointManager root must be a local filesystem path, "
                f"got URI {root!r} — use an Iceberg catalog or a mounted "
                "path for remote checkpoint storage"
            )
        self.spark = spark
        self.root = root
        self.config_token = config_token
        self.metrics: dict[str, dict] = {}
        # per-stage content fingerprints (filled on build OR resume);
        # downstream tokens chain these so upstream content changes
        # invalidate automatically
        self.fingerprints: dict[str, str] = {}
        if root is not None:
            # operator scratch left by a prior RUN on this root (a
            # shorter re-run would otherwise leave higher-suffix round
            # dirs behind forever); once per manager, never mid-run — a
            # later wipe could delete scratch that live frames read
            import shutil

            shutil.rmtree(os.path.join(root, "_op_stages"), ignore_errors=True)

    def _paths(self, name: str) -> tuple[str, str]:
        assert self.root is not None
        return os.path.join(self.root, name), os.path.join(self.root, f"{name}.manifest.json")

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        *,
        inputs: tuple[str, ...] = (),
        extra_token: str = "",
    ) -> DataFrame:
        """Build-or-resume one stage; records lineage + counters +
        content fingerprint. `extra_token` lets the caller bind the
        first stage to its raw input (snapshot id / plan hash)."""
        if self.root is None:
            # no on-disk checkpoint root: still materialize + cut lineage
            # (generator/HOF expressions must never be re-inlined into
            # downstream Generate/Join nodes — see minhash.py plan-size
            # note). The scratch-aware default cuts to parquet scratch
            # when a directory is discoverable, DISK_ONLY otherwise
            # (plans/materialize.py).
            from .materialize import resolve

            df = resolve(None)(build(), name)
            self.metrics[name] = {"rows": None, "resumed": False}
            return df
        data_path, manifest_path = self._paths(name)
        upstream_fp = ",".join(
            f"{i}:{self.fingerprints.get(i, '')}" for i in inputs
        )
        token = (
            f"{self.config_token}|inputs={','.join(inputs)}"
            f"|fp={upstream_fp}|extra={extra_token}"
        )
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                man = json.load(f)
            if man.get("token") == token and os.path.exists(
                os.path.join(data_path, "_SUCCESS")
            ):
                self.metrics[name] = {"rows": man["rows"], "resumed": True}
                self.fingerprints[name] = man.get("fingerprint", "")
                return self.spark.read.parquet(data_path)
            # stale manifest: REMOVE it before the data overwrite. The
            # rebuild window (parquet write + two aggregation jobs
            # before the new manifest lands) is wide; a crash inside it
            # must leave no manifest at all — keeping the old one lets
            # a later run under the OLD config token resume its stale
            # lineage against the NEW data dir (r5 review finding).
            os.remove(manifest_path)

        import time

        t0 = time.time()
        df = build()
        # fingerprint piggybacks on the write action (observation) —
        # the stage data used to be fully re-scanned post-write just to
        # hash it; the observed metrics are computed over the exact rows
        # the write streamed out, so the manifest content is unchanged.
        observed, fp_resolve = fingerprint_observation(df)
        observed.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)
        rows, fingerprint = fp_resolve(fallback_df=out)
        man: dict = {
            "stage": name,
            "token": token,
            "inputs": list(inputs),
            "rows": rows,
            "fingerprint": fingerprint,
            "schema": out.schema.jsonValue(),
        }
        per_part = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        man["partitions"] = {int(r["pid"]): int(r["rows"]) for r in per_part}
        man["wall_sec"] = round(time.time() - t0, 3)
        with open(manifest_path, "w") as f:
            json.dump(man, f, indent=1)
        self.metrics[name] = {"rows": rows, "resumed": False, "wall_sec": man["wall_sec"]}
        self.fingerprints[name] = fingerprint
        return out

    def materializer(self):
        """Scratch for OPERATOR-INTERNAL lineage cuts (CC rounds, LSH
        key tables, greedy-fixpoint state): a fresh ScopedMaterializer
        per call, under ``<root>/_op_stages`` when a checkpoint root
        exists (the fault-tolerant production shape), on the discovered
        scratch root otherwise. These cuts are transient — they carry
        no resume token and are rewritten on every run. Call once per
        operator invocation (plans/materialize.py)."""
        from .materialize import ScopedMaterializer

        return ScopedMaterializer(
            root=None if self.root is None else os.path.join(self.root, "_op_stages")
        )

    def put_json(self, name: str, payload: str) -> None:
        if self.root is None:
            return
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, f"{name}.json"), "w") as f:
            f.write(payload)

    def get_json(self, name: str) -> str | None:
        if self.root is None:
            return None
        p = os.path.join(self.root, f"{name}.json")
        if os.path.exists(p):
            with open(p) as f:
                return f.read()
        return None
