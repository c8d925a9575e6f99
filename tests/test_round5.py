"""Round-5 hardening tests: manifest-pointer atomic incremental-state
commit (VERDICT r4 item 2), scoped scratch lifecycle (ADVICE r4
medium), deterministic entities() tiebreak (ADVICE r4 low), legacy
state migration, scratch-leak warning (VERDICT item 6), and the
randomized incremental-vs-batch equivalence sweep (VERDICT item 5).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.test_round3 import _RECRAWL_TOKENS, _toy_em
from tests.test_round4 import _mk_pages4


def _manifest(state_dir):
    with open(os.path.join(state_dir, "MANIFEST.json")) as f:
        return json.load(f)


def _ent_rows(linker):
    return sorted(
        (r["rec_id"], r["cluster_id"], r["url"]) for r in linker.entities().collect()
    )


# --------------------------- atomic commit


def test_crash_between_segment_writes_serves_prebatch_state(
    spark, tmp_path, monkeypatch
):
    """Kill the batch BETWEEN the two segment writes (records staged,
    entities write raises): the manifest must be untouched and every
    read must serve exactly the pre-batch state — no
    superseded-but-present rows, no partially-applied relabels. A
    subsequent replay of the same batch must then produce state
    identical to a never-crashed run (VERDICT r4 item 2 'Done =')."""
    from pyspark.sql.readwriter import DataFrameWriter

    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    t2 = " ".join(f"other{i}" for i in range(40))
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "title one", t1)]),
        batch_id=0,
    )
    pre_rows = _ent_rows(linker)
    pre_manifest = _manifest(st)

    orig = DataFrameWriter.parquet

    def boom(self, path, *a, **kw):
        base = os.path.basename(path.rstrip("/"))
        if base.startswith("seg_") and base.endswith("_entities"):
            raise RuntimeError("injected crash between state writes")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    batch2 = [
        ("https://hostone.example.com/b", "title one", t1),  # dup of /a
        ("https://hosttwo.example.com/c", "title two", t2),
    ]
    with pytest.raises(RuntimeError, match="injected crash"):
        linker.process_batch(_mk_pages4(spark, batch2), batch_id=1)
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)

    # manifest untouched -> reads serve EXACTLY the pre-batch state,
    # even though an orphan records segment exists on disk
    assert _manifest(st) == pre_manifest
    assert _ent_rows(linker) == pre_rows
    assert os.path.isdir(os.path.join(st, "seg_000002_records"))  # orphan

    # replay commits; orphan is overwritten + referenced; final state
    # identical to a reference linker that never crashed
    linker.process_batch(_mk_pages4(spark, batch2), batch_id=1)
    ref = IncrementalLinker(spark, str(tmp_path / "ref"), _toy_em(), cfg)
    ref.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "title one", t1)]),
        batch_id=0,
    )
    ref.process_batch(_mk_pages4(spark, batch2), batch_id=1)
    assert _ent_rows(linker) == _ent_rows(ref)
    got_m, ref_m = _manifest(st), _manifest(str(tmp_path / "ref"))
    assert got_m == ref_m
    # no unreferenced segment dirs remain after the successful commit
    live = set(got_m["records"]) | set(got_m["entities"])
    on_disk = {d for d in os.listdir(st) if d.startswith("seg_")}
    assert on_disk == live


def test_crash_before_manifest_swap_serves_prebatch_state(
    spark, tmp_path, monkeypatch
):
    """Kill AFTER both segment writes but BEFORE the manifest rename:
    same guarantee — the swap is the single commit point."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "title one", t1)]),
        batch_id=0,
    )
    pre_rows = _ent_rows(linker)
    pre_manifest = _manifest(st)

    monkeypatch.setattr(
        linker,
        "_commit_manifest",
        lambda m: (_ for _ in ()).throw(RuntimeError("injected pre-swap crash")),
    )
    with pytest.raises(RuntimeError, match="pre-swap"):
        linker.process_batch(
            _mk_pages4(
                spark, [("https://hostone.example.com/b", "title one", t1)]
            ),
            batch_id=1,
        )
    monkeypatch.undo()
    assert _manifest(st) == pre_manifest
    assert _ent_rows(linker) == pre_rows
    # both orphan segments exist on disk but are invisible to reads
    assert os.path.isdir(os.path.join(st, "seg_000002_records"))
    assert os.path.isdir(os.path.join(st, "seg_000002_entities"))


def test_crash_mid_compact_preserves_state(spark, tmp_path, monkeypatch):
    """compact() uses the same commit protocol: a crash before its
    manifest swap leaves batches + relabel map fully intact."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    t1p = " ".join(
        ["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)]
    )
    t2 = " ".join(f"other{i}" for i in range(40))
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(
            spark,
            [
                ("https://hostone.example.com/a", "bridge title x", t1),
                ("https://hosttwo.example.com/b", "bridge title x", t2),
            ],
        )
    )
    linker.process_batch(
        _mk_pages4(
            spark, [("https://hosttwo.example.com/c", "bridge title x", t1p)]
        )
    )
    assert linker._read_relabels(), "bridge batch must produce a merge event"
    pre_rows = _ent_rows(linker)
    pre_manifest = _manifest(st)

    monkeypatch.setattr(
        linker,
        "_commit_manifest",
        lambda m: (_ for _ in ()).throw(RuntimeError("injected compact crash")),
    )
    with pytest.raises(RuntimeError, match="compact crash"):
        linker.compact()
    monkeypatch.undo()
    assert _manifest(st) == pre_manifest
    assert _ent_rows(linker) == pre_rows
    # real compact still works afterwards and GCs the orphans
    linker.compact()
    m = _manifest(st)
    assert m["relabels"] == {}
    live = set(m["records"]) | set(m["entities"])
    on_disk = {d for d in os.listdir(st) if d.startswith("seg_")}
    assert on_disk == live
    assert _ent_rows(linker) == pre_rows  # partition unchanged by compaction


def test_compact_twice_no_segment_collision(spark, tmp_path):
    """Two compact() calls with no intervening batch: the second must
    stage under a FRESH seq (a reused seq would name its overwrite-mode
    staging writes identically to the LIVE committed segments and
    delete them mid-stage — r5 review finding). Entities must survive
    both compactions unchanged."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(
            spark,
            [
                ("https://hostone.example.com/a", "t", t1),
                ("https://hostone.example.com/b", "t", t1),
            ],
        )
    )
    rows0 = _ent_rows(linker)
    linker.compact()
    segs1 = set(_manifest(st)["entities"]) | set(_manifest(st)["records"])
    assert _ent_rows(linker) == rows0
    linker.compact()
    m2 = _manifest(st)
    segs2 = set(m2["entities"]) | set(m2["records"])
    assert segs1.isdisjoint(segs2), "second compact must not reuse live segment names"
    assert _ent_rows(linker) == rows0
    # and the retired first-compact segments are GC'd
    on_disk = {d for d in os.listdir(st) if d.startswith("seg_")}
    assert on_disk == segs2


def test_cluster_match_pandas_path_null_vec_matches_codegen(spark, monkeypatch):
    """A NULL feature vector must yield a NULL cluster on BOTH
    assignment paths (codegen: null distance terms -> null argmin; the
    pandas path used to crash on the ragged list — r5 review
    finding)."""
    import fastlink_spark.operators.cluster_match as cm

    feats = spark.createDataFrame(
        [(1, [1] * 27), (2, None), (3, [5] * 27)],
        "rec_id long, lf_vec array<long>",
    )
    cents = [[0.0] * 27, [4.0] * 27]
    monkeypatch.setattr(cm, "CODEGEN_MAX_TERMS", 10**9)
    cg = {r["rec_id"]: r["cluster"] for r in cm.assign_clusters(feats, cents).collect()}
    monkeypatch.setattr(cm, "CODEGEN_MAX_TERMS", 1)
    np_ = {r["rec_id"]: r["cluster"] for r in cm.assign_clusters(feats, cents).collect()}
    assert cg == {1: 0, 2: None, 3: 1}
    assert np_ == cg
    # the kmeanspp seeding statistic mirrors the same null semantics
    d = cm._pandas_min_dist(cents)
    got = feats.select("rec_id", d(F.col("lf_vec")).alias("d")).collect()
    by = {r["rec_id"]: r["d"] for r in got}
    assert by[2] is None and by[1] is not None


# --------------------------- scratch lifecycle


def test_scoped_materializer_releases_scratch(spark):
    from fastlink_spark.plans.materialize import ScopedMaterializer

    mat = ScopedMaterializer()
    df = spark.range(10)
    out = mat(df, "cut")
    assert out.count() == 10
    inv = mat._inv_dir
    assert inv is not None and os.path.isdir(inv)
    mat.close()
    assert not os.path.exists(inv)
    mat.close()  # idempotent
    # reopens lazily on next use, in a FRESH namespace
    out2 = mat(df, "cut")
    assert out2.count() == 10 and mat._inv_dir != inv
    mat.close()


def test_process_batch_leaves_no_scratch_behind(spark, tmp_path):
    """ADVICE r4 medium: a long-running stream must not accumulate an
    inv_<n> parquet namespace per batch until JVM exit. After N batches
    the scratch root holds no more invocation dirs than before."""
    from fastlink_spark.plans.materialize import _app_roots
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    cfg = LinkageConfig(threshold=0.5)
    linker = IncrementalLinker(spark, str(tmp_path / "st"), _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "t", t1)])
    )
    root = _app_roots[spark.sparkContext.applicationId]
    assert root is not None
    before = {d for d in os.listdir(root) if d.startswith("inv_")}
    for i in range(3):
        linker.process_batch(
            _mk_pages4(
                spark, [(f"https://hostone.example.com/p{i}", "t", t1)]
            )
        )
    linker.compact()
    after = {d for d in os.listdir(root) if d.startswith("inv_")}
    assert after == before


def test_rm_path_warns_on_failed_remote_delete(spark, capsys):
    from fastlink_spark.plans.materialize import _rm_path

    _rm_path(spark, "definitely-not-a-scheme://bucket/prefix")
    err = capsys.readouterr().err
    assert "leaked scratch path" in err
    assert "definitely-not-a-scheme://bucket/prefix" in err


# --------------------------- legacy migration + read determinism


def test_legacy_state_dir_migrates_on_next_commit(spark, tmp_path):
    """A pre-manifest state dir (append-mode records/ entities/ +
    meta.json + relabels.json) keeps serving reads, and the first v2
    commit migrates it: MANIFEST.json appears, side json files are
    retired, and compact() garbage-collects the legacy dirs."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    t2 = " ".join(f"other{i}" for i in range(40))
    cfg = LinkageConfig(threshold=0.5)
    st = tmp_path / "st"
    linker = IncrementalLinker(spark, str(st), _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "t", t1)]),
        batch_id=0,
    )
    # demote to the legacy layout: single dirs + side json, no manifest
    m = _manifest(str(st))
    for kind in ("records", "entities"):
        src = [str(st / n) for n in m[kind]]
        df = spark.read.parquet(*src)
        df.write.mode("overwrite").parquet(str(st / f"__legacy_{kind}"))
    import shutil

    for d in list(os.listdir(st)):
        if d.startswith("seg_"):
            shutil.rmtree(st / d)
    for kind in ("records", "entities"):
        os.rename(st / f"__legacy_{kind}", st / kind)
    os.remove(st / "MANIFEST.json")
    with open(st / "meta.json", "w") as f:
        json.dump({"seq": m["seq"], "last_batch_id": m["last_batch_id"]}, f)
    with open(st / "relabels.json", "w") as f:
        json.dump(m["relabels"], f)

    legacy = IncrementalLinker(spark, str(st), _toy_em(), cfg)
    pre = _ent_rows(legacy)
    assert len(pre) == 1
    # replayed batch 0 is still a no-op from legacy meta
    assert (
        legacy.process_batch(
            _mk_pages4(spark, [("https://x.example.com/z", "t", t2)]),
            batch_id=0,
        )
        is None
    )
    legacy.process_batch(
        _mk_pages4(spark, [("https://hosttwo.example.com/b", "t", t2)]),
        batch_id=1,
    )
    assert os.path.exists(st / "MANIFEST.json")
    assert not os.path.exists(st / "meta.json")
    assert not os.path.exists(st / "relabels.json")
    m2 = _manifest(str(st))
    assert "records" in m2["records"] and "seg_000002_records" in m2["records"]
    assert len(_ent_rows(legacy)) == 2
    legacy.compact()
    assert not os.path.isdir(st / "records")  # legacy dirs retired by GC
    assert not os.path.isdir(st / "entities")
    assert len(_ent_rows(legacy)) == 2


def test_entities_tiebreak_deterministic(spark, tmp_path):
    """Two state rows for one rec_id with EQUAL _seq (legacy pre-seq
    state / crash-replay duplicates): entities() must serve the
    content-hash winner — compact()'s exact order (_seq desc,
    xxhash64 asc) — not a partition-order-dependent row, and
    cluster_id/url must come from the SAME winning row (ADVICE r4)."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    st = tmp_path / "st"
    os.makedirs(st)
    rows = [(7, 100, "https://a.example.com/x"), (7, 200, "https://b.example.com/y")]
    schema = "rec_id long, cluster_id long, url string, _seq long"
    for i, (rid, cid, url) in enumerate(rows):
        spark.createDataFrame([(rid, cid, url, 0)], schema).write.parquet(
            str(st / f"seg_{i:06d}_entities")
        )
    with open(st / "MANIFEST.json", "w") as f:
        json.dump(
            {
                "version": 2,
                "seq": 0,
                "last_batch_id": -1,
                "records": [],
                "entities": [f"seg_{i:06d}_entities" for i in range(2)],
                "relabels": {},
            },
            f,
        )
    linker = IncrementalLinker(spark, str(st), _toy_em(), LinkageConfig())
    got = linker.entities().collect()
    assert len(got) == 1
    # expected winner: min xxhash64(cluster_id, url) — compact()'s order
    h = (
        spark.createDataFrame(rows, "rec_id long, cluster_id long, url string")
        .select("cluster_id", "url", F.xxhash64("cluster_id", "url").alias("h"))
        .collect()
    )
    want = min(h, key=lambda r: r["h"])
    assert got[0]["cluster_id"] == want["cluster_id"]
    assert got[0]["url"] == want["url"]  # same row, not mixed


# --------------------------- review pass 2 fixes (operators)


def test_gamma_numeric_coercion_failures_are_na(spark):
    """Null, non-numeric (try_cast null) and NaN values must yield
    gamma NULL (MAR-missing), never 0 — the old input-null check let
    coercion failures fall through to hard-disagreement, biasing the
    EM's u-probabilities on dirty numeric fields (r5 review)."""
    from fastlink_spark.operators.gammas import gamma_numeric

    df = spark.createDataFrame(
        [
            ("1.0", "1.5"),      # within full window
            ("1.0", "9.9"),      # disagree
            ("unknown", "2.0"),  # coercion failure -> NA
            (None, "2.0"),       # null -> NA
            ("NaN", "2.0"),      # NaN -> NA
        ],
        "a_x string, b_x string",
    )
    got = [
        r["g"]
        for r in df.select(
            gamma_numeric(F.col("a_x"), F.col("b_x"), cut_full=1.0).alias("g")
        ).collect()
    ]
    assert got == [2, 0, None, None, None]


def test_numeric_fieldspec_requires_explicit_cut_full():
    from fastlink_spark.operators.gammas import FieldSpec

    with pytest.raises(ValueError, match="explicit"):
        FieldSpec("price", "numeric").possible_levels()
    # similarity kinds keep the shared default
    assert FieldSpec("title").possible_levels() == [0, 1, 2]


def test_candidate_pairs_attr_named_salt_survives(spark):
    """Input attribute columns named like the join's internal working
    columns (salt/sa/sb, i/j) must come through a_*/b_* untouched —
    they used to be clobbered by the salting machinery (r5 review)."""
    from fastlink_spark.operators.pairs import candidate_pairs, candidate_pairs_two

    blocked = spark.createDataFrame(
        [("k", i, f"v{i}", i * 10) for i in range(6)],
        "block_key string, rec_id long, salt string, i long",
    )
    out = candidate_pairs(blocked).collect()
    assert len(out) == 15  # C(6,2)
    for r in out:
        assert r["a_salt"] == f"v{r['a_rec_id']}" and r["b_salt"] == f"v{r['b_rec_id']}"
        assert r["a_i"] == r["a_rec_id"] * 10 and r["b_i"] == r["b_rec_id"] * 10
    two = candidate_pairs_two(blocked, blocked).collect()
    assert len(two) == 36
    for r in two:
        assert r["a_salt"] == f"v{r['a_rec_id']}" and r["b_salt"] == f"v{r['b_rec_id']}"


def test_exact_dup_groups_wide_hash(spark):
    from fastlink_spark.operators.dedup import exact_dup_groups

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = exact_dup_groups(docs, "doc_id", "text", wide_hash=True).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 2 and out[0]["doc_ids"] == [1, 2]
    assert isinstance(out[0]["text_hash"], str) and len(out[0]["text_hash"]) == 32


def test_simhash_radius_beyond_pigeonhole_raises(spark):
    from fastlink_spark.operators.dedup import simhash_pairs_multi

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs_multi(docs, "doc_id", "text", max_hamming=4, n_tables=4)


# --------------------------- review pass 4 fixes (checkpoint/CC/streaming/ANN)


def test_checkpoint_stale_manifest_removed_on_rebuild(spark, tmp_path, monkeypatch):
    """A rebuild must remove the stale manifest BEFORE overwriting the
    data dir: a crash inside the (wide) rebuild window used to leave
    the OLD manifest next to NEW data, so a later run under the old
    config token silently resumed wrong content (r5 review)."""
    import fastlink_spark.plans.checkpoint as cp

    ck = str(tmp_path / "ck")
    m_a = cp.CheckpointManager(spark, ck, config_token="A")
    m_a.stage("s", lambda: spark.range(5).withColumn("cfg", F.lit("A")))

    # config B rebuild crashes after the data overwrite, before the
    # manifest write (content_fingerprint poisoned)
    m_b = cp.CheckpointManager(spark, ck, config_token="B")
    real_fmt = cp._fp_format
    # r8: the happy-path fingerprint rides the write as an Observation;
    # _fp_format is the shared choke point both the observation resolver
    # and the standalone-scan fallback pass through, so poisoning it
    # still models "crash after the data overwrite, before the manifest
    # write" for the current mechanism.
    monkeypatch.setattr(
        cp,
        "_fp_format",
        lambda row: (_ for _ in ()).throw(RuntimeError("injected crash")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        m_b.stage("s", lambda: spark.range(5).withColumn("cfg", F.lit("B")))
    monkeypatch.setattr(cp, "_fp_format", real_fmt)
    assert not os.path.exists(os.path.join(ck, "s.manifest.json"))

    # back under config A: must REBUILD (content is B's on disk), not
    # resume the stale manifest
    m_a2 = cp.CheckpointManager(spark, ck, config_token="A")
    out = m_a2.stage("s", lambda: spark.range(5).withColumn("cfg", F.lit("A")))
    assert m_a2.metrics["s"]["resumed"] is False
    assert {r["cfg"] for r in out.collect()} == {"A"}


def test_checkpoint_root_uri_rejected(spark):
    from fastlink_spark.plans.checkpoint import CheckpointManager

    with pytest.raises(ValueError, match="local filesystem"):
        CheckpointManager(spark, "s3://bucket/prefix")


def test_ivf_refine_survives_null_low_id_seeds(spark):
    """The 16 lowest-id corpus rows have vec=null (earliest-ingested
    embedding failures): with refine on, the centroid table used to
    collapse to EMPTY (null seeds dropped, table rebuilt from the
    empty map) and every query got zero neighbors (r5 review). Seeds
    now come from non-null vectors only."""
    import numpy as np

    from fastlink_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    rows = [(i, None) for i in range(16)] + [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(16, 80)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    queries = corpus.where(F.col("vec_id").between(16, 19))
    out = ivf_topk(
        corpus, queries, "vec_id", "vec",
        k=3, n_cells=16, n_probe=4, centroid_rule="min_id", refine_iters=1,
    ).collect()
    assert len(out) > 0
    assert {r["query_id"] for r in out} == {16, 17, 18, 19}


def test_streaming_dedup_null_ids_survive(spark, tmp_path):
    """A hash group whose batch rows all carry null ids made pandas
    .min() return NaN and int(NaN) killed the whole streaming query
    (r5 review). Null ids are skipped; groups with a real id emit it."""
    from fastlink_spark.streaming.windowed import run_streaming_dedup
    from tests.test_streaming_windowed import SCHEMA_DOCS, _write_chunk

    indir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    _write_chunk(
        spark, [(None, 100), (5, 100), (None, 400), (9, 200)], SCHEMA_DOCS, indir, "b1"
    )
    q = run_streaming_dedup(spark, indir + "/*", ck, out, SCHEMA_DOCS)
    q.awaitTermination(120)
    got = {(r["doc_id"], r["text_hash"]) for r in spark.read.parquet(out).collect()}
    assert got == {(5, 100), (9, 200)}  # all-null group 400 emits nothing


# --------------------------- review pass 5 fixes (assignment/EM-log/media)


def test_greedy_separate_side_namespaces(spark):
    """An id appearing on BOTH sides is two different records under the
    default two-table semantics: the old pooled 'used' set wrongly
    eliminated viable pairs (r5 review scenario). shared_id_space=True
    restores single-table pooling for all greedy paths."""
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    rows = [
        (5, 72, 0.5), (7, 72, 0.9), (7, 73, 0.95),
        (9, 73, 0.99), (9, 74, 1.0), (2, 5, 0.95),
    ]
    pairs = spark.createDataFrame(rows, "a_rec_id long, b_rec_id long, zeta double")
    got = {
        (r["a_rec_id"], r["b_rec_id"])
        for r in dedupe_matches(pairs).collect()
    }
    # sequential greedy, sides separate: (9,74), (2,5), (7,73), (5,72)
    assert got == {(9, 74), (2, 5), (7, 73), (5, 72)}
    # lsap agrees on this input (total 0.95+1.0+0.95+0.5 is optimal)
    got_l = {
        (r["a_rec_id"], r["b_rec_id"])
        for r in dedupe_matches(pairs, method="lsap").collect()
    }
    assert got_l == got
    # pooled namespace: accepting (2,5) consumes record 5 entirely
    pooled = {
        (r["a_rec_id"], r["b_rec_id"])
        for r in dedupe_matches(pairs, shared_id_space=True).collect()
    }
    assert (5, 72) not in pooled and (9, 74) in pooled and (2, 5) in pooled


def test_dedupe_matches_shared_contract_and_validation(spark):
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    pairs = spark.createDataFrame(
        [(1, 10, 0.9), (1, 10, 0.4), (2, 20, 0.0), (3, 30, -1.0)],
        "a_rec_id long, b_rec_id long, zeta double",
    )
    for method in ("greedy", "lsap"):
        out = dedupe_matches(pairs, method=method).collect()
        # duplicate (1,10) collapses to best score; 0.0/negative never match
        assert [(r["a_rec_id"], r["b_rec_id"], r["zeta"]) for r in out] == [(1, 10, 0.9)]
    with pytest.raises(ValueError, match="unknown method"):
        dedupe_matches(pairs, method="linprog")
    with pytest.raises(ValueError, match="greedy-only"):
        dedupe_matches(pairs, method="lsap", shared_id_space=True)


def test_emlink_log_grid_guard():
    import pandas as pd

    from fastlink_spark.em_log import emlink_log

    cols = [f"gamma_f{i}" for i in range(13)]
    patt = pd.DataFrame([dict({c: 0 for c in cols}, cnt=50),
                         dict({c: 2 for c in cols}, cnt=5)])
    with pytest.raises(ValueError, match="joint grid"):
        emlink_log(
            patt, cols,
            level_universe={c: [0, 1, 2] for c in cols},  # 3^13 cells
        )


def test_window_size_validated(spark):
    from fastlink_spark.operators.subset import window_block_keys

    with pytest.raises(ValueError, match="window_size"):
        window_block_keys(F.col("x"), 0)


def test_decode_ppm_crlf_header(spark):
    import numpy as np

    from fastlink_spark.multimodal import decode_ppm

    pixels = bytes([10, 20, 30, 40, 50, 60])
    ok = decode_ppm(b"P6 2 1 255\n" + pixels)
    crlf = decode_ppm(b"P6 2 1 255\r\n" + pixels)
    assert np.array_equal(ok, crlf)
    assert ok[0, 0].tolist() == [10, 20, 30]
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6 2 1 255\n" + pixels[:-1])


def test_value_frequencies_single_pass_values(spark):
    from fastlink_spark.operators.reweight import value_frequencies

    recs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)], "rec_id long, name string"
    )
    got = {r["value"]: r["p_v"] for r in value_frequencies(recs, "name").collect()}
    assert got == {"a": 2 / 3, "b": 1 / 3}


# --------------------------- review pass 6 fixes (link_two/dl/session)


def test_link_two_null_blocks_dropped(spark):
    """Rows with a NULL blocking value must be dropped from pairing —
    the old '\\x00' sentinel put every null-blocked row of BOTH tables
    into one block (null==null 'agreement', O(na*nb) pair blow-up)."""
    from fastlink_spark.operators.gammas import FieldSpec
    from fastlink_spark.plans.link_two import link_records

    rows_a = [(i, None if i < 30 else f"b{i % 3}", f"name{i % 7}") for i in range(60)]
    rows_b = [(1000 + i, None if i < 30 else f"b{i % 3}", f"name{i % 7}") for i in range(60)]
    df_a = spark.createDataFrame(rows_a, "pid long, blk string, name string")
    df_b = spark.createDataFrame(rows_b, "pid long, blk string, name string")
    res = link_records(
        spark, df_a, df_b,
        [FieldSpec("name", "exact", cut_partial=None)],
        id_col="pid", block_cols=["blk"], threshold=0.2, p_m=0.3,
    )
    matched = res.matched_pairs.collect()
    a_ids = {r["a_pid"] for r in matched}
    assert matched, "non-null blocks must still produce matches"
    assert all(i >= 30 for i in a_ids), "null-blocked rows must never pair"


def test_link_two_em_deterministic(spark):
    """Same input, two runs -> byte-identical EM fit (the r5 pattern-
    sort determinism fix applied to the link_two path too)."""
    from fastlink_spark.operators.gammas import FieldSpec
    from fastlink_spark.plans.link_two import link_records

    rows_a = [(i, f"b{i % 5}", f"name{i % 11}", f"t{i % 4}") for i in range(120)]
    rows_b = [(1000 + i, f"b{i % 5}", f"name{(i + (i % 9 == 0)) % 11}", f"t{i % 4}") for i in range(120)]
    df_a = spark.createDataFrame(rows_a, "pid long, blk string, name string, town string")
    df_b = spark.createDataFrame(rows_b, "pid long, blk string, name string, town string")
    fields = [FieldSpec("name", "exact"), FieldSpec("town", "exact")]

    def run():
        return link_records(
            spark, df_a, df_b, fields, id_col="pid", block_cols=["blk"]
        ).em.to_json()

    assert run() == run()


def test_osa_sim_series_cap_and_types():
    import pandas as pd

    from fastlink_spark.functions.dl import osa_sim_series

    # long inputs are capped (equal 1000-char strings score via their
    # 128-char prefixes, instantly)
    long_a = pd.Series(["x" * 1000, "x" * 1000])
    long_b = pd.Series(["x" * 1000, "x" * 999 + "y"])
    out = osa_sim_series(long_a, long_b).tolist()
    assert out[0] == 1.0 and out[1] == 1.0  # the differing tail is past the cap
    # numeric values compare via str() instead of silently nulling
    nums = osa_sim_series(pd.Series([12.5, None]), pd.Series([12.5, "x"])).tolist()
    assert nums[0] == 1.0
    assert pd.isna(nums[1])


def test_get_spark_warns_on_ignored_config(spark, capsys):
    from fastlink_spark.session import get_spark

    cur = spark.conf.get("spark.sql.shuffle.partitions")
    get_spark(shuffle_partitions=int(cur) + 7)
    err = capsys.readouterr().err
    assert "requested configs not applied" in err


# --------------------------- ADVICE r4 low fixes


def test_similarity_partial_not_phantom(spark):
    """A similarity cut_partial AT or ABOVE cut_full makes level 1
    unreachable (full is checked first) — possible_levels must not
    advertise it (phantom universe levels soak up Dirichlet mass in
    sample-fit mode), mirroring the numeric guard."""
    from fastlink_spark.operators.gammas import FieldSpec, with_gammas

    for kind in ("string", "levenshtein", "dl"):
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=0.9).possible_levels() == [0, 2]
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=0.95).possible_levels() == [0, 2]
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=0.7).possible_levels() == [0, 1, 2]
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=None).possible_levels() == [0, 2]
    # and the computed gammas agree with the degenerate-partial contract:
    # cut_partial == cut_full behaves exactly like no partial level
    pairs = spark.createDataFrame(
        [("martha", "martha"), ("martha", "marhta"), ("abc", "zzz"), (None, "x")],
        "a_x string, b_x string",
    )
    g_deg = with_gammas(pairs, [FieldSpec("x", "string", 0.94, 0.94)]).collect()
    g_none = with_gammas(pairs, [FieldSpec("x", "string", 0.94, None)]).collect()
    assert [r["gamma_x"] for r in g_deg] == [r["gamma_x"] for r in g_none]
    assert {r["gamma_x"] for r in g_deg} <= {0, 2, None}


def test_sample_fraction_validation(spark):
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages

    pages = spark.createDataFrame(generate_pages(n_base=10).pages)
    for bad in (0.0, -0.5, 15):
        with pytest.raises(ValueError, match="sample_fraction"):
            link_dedupe(spark, pages, LinkageConfig(sample_fraction=bad))


def test_em_checkpoint_invalidated_by_changed_input(spark, tmp_path):
    """The EM checkpoint key chains the pairs_gamma content fingerprint
    (r5 review): re-running the same config over CHANGED input must
    re-fit, not serve the stale EM. Same-input resume still hits."""
    import glob

    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages

    ck = str(tmp_path / "ck")
    cfg = LinkageConfig(checkpoint_dir=ck)
    p1 = spark.createDataFrame(generate_pages(n_base=40, seed=1).pages)
    p2 = spark.createDataFrame(generate_pages(n_base=40, seed=2).pages)
    r1 = link_dedupe(spark, p1, cfg)
    n_em1 = len(glob.glob(f"{ck}/em_*.json"))
    r1b = link_dedupe(spark, p1, cfg)  # same data: EM checkpoint hit
    assert len(glob.glob(f"{ck}/em_*.json")) == n_em1
    assert r1.em.to_json() == r1b.em.to_json()
    r2 = link_dedupe(spark, p2, cfg)  # changed data: fresh EM key + fit
    assert len(glob.glob(f"{ck}/em_*.json")) == n_em1 + 1
    assert r2.em.to_json() != r1.em.to_json()


def test_sample_fraction_one_fits_like_full(spark, tmp_path):
    """sample_fraction=1.0 performs no sampling, so it must fit the EM
    exactly like sample_fraction=None — no level_universe/dirichlet
    perturbation (ADVICE r4: the two predicates disagreed)."""
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages

    fx = generate_pages(n_base=40)
    pages = spark.createDataFrame(fx.pages)
    full = link_dedupe(spark, pages, LinkageConfig())
    one = link_dedupe(spark, pages, LinkageConfig(sample_fraction=1.0))
    assert full.em.to_json() == one.em.to_json()


# --------------------------- cluster_match high-k path


def test_cluster_match_k64_paths_bit_identical(spark, monkeypatch):
    """VERDICT r4 item 3: above CODEGEN_MAX_TERMS the k-means
    assignment (and the kmeanspp seeding statistic) route through a
    broadcast-centroid NumPy argmin instead of the literal-embedded
    codegen expression. The two paths must be BIT-identical — same
    fitted centroids, same assignments — at k=64, so the exact-integer
    fit (and the q30 oracle at k=8) is path-independent."""
    import fastlink_spark.operators.cluster_match as cm

    rows = [(i, f"w{i % 97}x{'abcdeq'[i % 6] * (i % 11)}y{i % 13}") for i in range(700)]
    df = spark.createDataFrame(rows, "rec_id long, s string")
    feats = cm.letter_features(df, "s").localCheckpoint(eager=True)

    # k=64 Lloyd fit + assignment (hash seeding: one collect, so the
    # wall isn't dominated by 63 codegen seeding compiles — the exact
    # cost this operator change removes)
    monkeypatch.setattr(cm, "CODEGEN_MAX_TERMS", 10**9)  # force codegen
    cents_cg = cm.fit_kmeans(feats, 64, n_iter=4)
    asg_cg = {
        r["rec_id"]: r["cluster"]
        for r in cm.assign_clusters(feats, cents_cg).collect()
    }
    assert len(cents_cg) == 64

    monkeypatch.setattr(cm, "CODEGEN_MAX_TERMS", 1)  # force pandas path
    cents_np = cm.fit_kmeans(feats, 64, n_iter=4)
    asg_np = {
        r["rec_id"]: r["cluster"]
        for r in cm.assign_clusters(feats, cents_np).collect()
    }
    assert cents_np == cents_cg  # exact float equality, not approx
    assert asg_np == asg_cg

    # kmeanspp SEEDING statistic takes the same switch: k=12 keeps the
    # codegen arm affordable while covering the farthest-first path
    monkeypatch.setattr(cm, "CODEGEN_MAX_TERMS", 10**9)
    pp_cg = cm.fit_kmeans(feats, 12, init="kmeanspp", n_iter=2)
    monkeypatch.setattr(cm, "CODEGEN_MAX_TERMS", 1)
    pp_np = cm.fit_kmeans(feats, 12, init="kmeanspp", n_iter=2)
    assert pp_np == pp_cg


# --------------------------- randomized equivalence sweep


@pytest.mark.parametrize("seed", [11, 23, 37, 51, 68])
def test_incremental_plus_compact_equals_batch_randomized(spark, tmp_path, seed):
    """Property form of the strongest invariant in the engine (VERDICT
    r4 item 5): for RANDOM batch splits (1-5 batches), random re-crawl
    injections (perturbed text, later batch) and the batch-fitted EM
    frozen, streaming all batches + compact() must reproduce the
    partition of a single from-scratch link_dedupe over the LATEST
    crawl of every url."""
    import numpy as np

    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages
    from fastlink_spark.streaming.incremental import IncrementalLinker

    rng = np.random.default_rng(seed)
    fx = generate_pages(n_base=45, seed=seed)
    pdf = fx.pages.reset_index(drop=True)
    n = len(pdf)
    k = int(rng.integers(1, 6))  # 1..5 batches
    assign = rng.integers(0, k, size=n)

    # re-crawl injection: for a few urls, a perturbed LATER crawl
    # (different title token -> possibly different pairing) lands in
    # the LAST batch; the reference batch run sees only the latest row
    recrawl_idx = []
    if k >= 2:
        cand = [i for i in range(n) if assign[i] < k - 1]
        take = min(len(cand), int(rng.integers(1, 4)))
        recrawl_idx = list(rng.choice(cand, size=take, replace=False))

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"

    def rowtuple(i, perturbed=False):
        r = pdf.iloc[i]
        ts = r["warc_ts"].to_pydatetime()
        if not perturbed:
            return (r["url"], ts, r["html"], r["text"], r["lang"])
        toks = (r["text"] or "").split()
        if toks:
            toks[len(toks) // 2] = "recrawled"
        text = " ".join(toks)
        html = (
            f"<html><head><title>recrawl edition</title></head>"
            f"<body>{text}</body></html>"
        ).encode()
        return (r["url"], ts, html, text, r["lang"])

    batches = []
    for b in range(k):
        rows = [rowtuple(i) for i in range(n) if assign[i] == b]
        if b == k - 1:
            rows += [rowtuple(i, perturbed=True) for i in recrawl_idx]
        batches.append(rows)

    latest = [
        rowtuple(i, perturbed=(i in recrawl_idx)) for i in range(n)
    ]
    ref_pages = spark.createDataFrame(latest, schema)
    cfg = LinkageConfig()
    batch = link_dedupe(spark, ref_pages, cfg)

    linker = IncrementalLinker(
        spark, str(tmp_path / f"st{seed}"), batch.em, cfg
    )
    for bid, rows in enumerate(batches):
        if rows:
            linker.process_batch(spark.createDataFrame(rows, schema), batch_id=bid)
    linker.compact()

    def parts(rows):
        by = {}
        for r in rows:
            by.setdefault(r["cluster_id"], set()).add(r["url"])
        return sorted(map(frozenset, by.values()), key=sorted)

    got = parts(linker.entities().collect())
    want = parts(batch.entities.collect())
    assert got == want


# ---------------------------------------------------------------- PNG decode


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data))
    )


def _encode_png(img, color_type: int, filter_type, palette=None) -> bytes:
    """Minimal PNG writer for tests: 8-bit depth, non-interlaced.
    `filter_type` is one int (every row uses it — exercises each decode
    branch in isolation) or a per-row sequence (exercises filter
    TRANSITIONS: e.g. paeth reading a sub-reconstructed prev row).
    `img` is (h, w, nch) uint8 matching color_type's channel count
    (palette mode: (h, w, 1) indices)."""
    import struct
    import zlib

    import numpy as np

    h, w, nch = img.shape
    bpp = nch
    raw = img.reshape(h, w * nch).astype(np.int32)
    prev = np.zeros(w * nch, dtype=np.int32)
    ftypes = [filter_type] * h if isinstance(filter_type, int) else list(filter_type)
    assert len(ftypes) == h
    scan = bytearray()
    for y in range(h):
        row = raw[y]
        ft = ftypes[y]
        filt = np.empty_like(row)
        for x in range(w * nch):
            a = int(row[x - bpp]) if x >= bpp else 0  # left (reconstructed=raw)
            b = int(prev[x])  # up
            c = int(prev[x - bpp]) if x >= bpp else 0  # upper-left
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:  # paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (int(row[x]) - pred) & 0xFF
        scan.append(ft)
        scan.extend(filt.astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _png_chunk(b"PLTE", bytes(palette.astype(np.uint8).reshape(-1)))
    out += _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
    return out + _png_chunk(b"IEND", b"")


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_decode_png_all_filters_rgb(filter_type):
    import numpy as np

    from fastlink_spark.multimodal import decode_png

    rng = np.random.default_rng(7 + filter_type)
    img = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    got = decode_png(_encode_png(img, 2, filter_type))
    assert got.shape == (13, 17, 3)
    assert (got == img).all()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_decode_png_mixed_filters_per_row(seed):
    """Random filter per ROW: every unfilter branch must reconstruct
    from a prev row produced by a DIFFERENT branch (the single-filter
    tests can't see a bug in those transitions)."""
    import numpy as np

    from fastlink_spark.multimodal import decode_png

    rng = np.random.default_rng(100 + seed)
    for nch, ctype in ((3, 2), (4, 6), (1, 0)):
        h, w = 17, 11
        img = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
        ftypes = rng.integers(0, 5, size=h).tolist()
        got = decode_png(_encode_png(img, ctype, ftypes))
        want = img[:, :, :3] if ctype == 6 else (np.repeat(img, 3, axis=2) if ctype == 0 else img)
        assert (got == want).all(), f"ctype={ctype} filters={ftypes}"


def test_decode_png_rejects_unsupported_variants():
    """16-bit depth and interlaced images are OUT of scope: they must
    raise (-> ok=False row), never silently mis-decode."""
    import struct
    import zlib

    import numpy as np

    from fastlink_spark.multimodal import decode_png

    img = np.zeros((3, 3, 3), dtype=np.uint8)
    good = bytearray(_encode_png(img, 2, 0))
    # IHDR data starts at 8 (sig) + 8 (len+type); depth is byte 8 of it
    ihdr_off = 16
    for field_off, bad_val in ((8, 16), (12, 1)):  # depth=16; interlace=Adam7
        b = bytearray(good)
        b[ihdr_off + field_off] = bad_val
        data = bytes(b[ihdr_off : ihdr_off + 13])
        b[ihdr_off + 13 : ihdr_off + 17] = struct.pack(">I", zlib.crc32(b"IHDR" + data))
        with pytest.raises(ValueError, match="unsupported PNG variant"):
            decode_png(bytes(b))


def test_decode_png_color_types():
    import numpy as np

    from fastlink_spark.multimodal import decode_png

    rng = np.random.default_rng(11)
    # RGBA: alpha dropped
    rgba = rng.integers(0, 256, size=(5, 4, 4), dtype=np.uint8)
    assert (decode_png(_encode_png(rgba, 6, 4)) == rgba[:, :, :3]).all()
    # grayscale: replicated to 3 channels
    gray = rng.integers(0, 256, size=(6, 3, 1), dtype=np.uint8)
    got = decode_png(_encode_png(gray, 0, 1))
    assert (got == np.repeat(gray, 3, axis=2)).all()
    # gray+alpha
    ga = rng.integers(0, 256, size=(4, 5, 2), dtype=np.uint8)
    got = decode_png(_encode_png(ga, 4, 2))
    assert (got == np.repeat(ga[:, :, :1], 3, axis=2)).all()
    # palette
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(7, 6, 1), dtype=np.uint8)
    got = decode_png(_encode_png(idx, 3, 0, palette=pal))
    assert (got == pal[idx[:, :, 0]]).all()


def test_decode_png_rejects_bad_payloads():
    import numpy as np

    from fastlink_spark.multimodal import decode_png

    img = np.zeros((3, 3, 3), dtype=np.uint8)
    good = _encode_png(img, 2, 0)
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk")
    with pytest.raises(ValueError):
        decode_png(b"BM" + good)  # wrong magic
    with pytest.raises(ValueError):
        decode_png(good[:40])  # truncated mid-chunk
    # corrupt the IDAT deflate stream: flip a byte at a COMPUTED offset
    # inside the chunk data (a fixed negative index is layout-dependent
    # and could drift into the CRC, which the decoder ignores)
    idat_at = good.index(b"IDAT")
    idat_len = int.from_bytes(good[idat_at - 4 : idat_at], "big")
    assert idat_len >= 3
    bad = bytearray(good)
    bad[idat_at + 4 + idat_len // 2] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # palette index out of range
    pal = np.zeros((2, 3), dtype=np.uint8)
    idx = np.full((2, 2, 1), 9, dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_png(_encode_png(idx, 3, 0, palette=pal))


def test_decode_png_bounds_memory_before_inflate():
    """A crafted PNG must degrade to ValueError (-> ok=False row), never
    an executor OOM: (a) huge DECLARED dimensions are rejected before
    any allocation; (b) an IDAT stream inflating beyond the declared
    dimensions (zip-bomb shape) is rejected mid-inflate, bounded by the
    declared size — zlib.decompress alone would expand ~1032:1."""
    import struct
    import zlib

    import numpy as np

    from fastlink_spark.multimodal import PNG_MAX_PIXEL_BYTES, decode_png

    def png(w, h, idat):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b"")
        )

    # (a) declared 50000x50000 RGB = 7.5 GB > cap, tiny payload
    with pytest.raises(ValueError, match="decode cap"):
        decode_png(png(50_000, 50_000, zlib.compress(b"\x00" * 64)))
    assert 50_000 * 50_000 * 3 > PNG_MAX_PIXEL_BYTES  # the case is real
    # (b) declared 2x2 but the stream inflates to 1 MB
    bomb = zlib.compress(b"\x00" * (1 << 20), 9)
    with pytest.raises(ValueError, match="beyond the declared"):
        decode_png(png(2, 2, bomb))
    # sanity: a conforming image still decodes after the guards
    img = np.full((2, 2, 3), 7, dtype=np.uint8)
    assert (decode_png(_encode_png(img, 2, 0)) == img).all()


def test_extract_features_png_end_to_end(spark):
    """image/png rides the REAL decode path through mapInPandas: the
    distributed feature equals image_feature(decode_png(payload)) locally,
    and a corrupt PNG row degrades to ok=False without failing the task."""
    import numpy as np

    from fastlink_spark.multimodal import (
        decode_png,
        extract_features,
        image_feature,
        with_media_metadata,
    )

    rng = np.random.default_rng(23)
    imgs = {i: rng.integers(0, 256, size=(9, 9, 3), dtype=np.uint8) for i in range(3)}
    rows = [(i, bytearray(_encode_png(imgs[i], 2, i + 1))) for i in range(3)]
    rows.append((99, bytearray(b"\x89PNG\r\n\x1a\ntrash")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    media = with_media_metadata(df, "doc_id", "payload", "image/png")
    out = {r["doc_id"]: r for r in extract_features(media, dim=16).collect()}
    assert not out[99]["ok"] and out[99]["feature"] is None
    for i in range(3):
        assert out[i]["ok"]
        want = image_feature(decode_png(_encode_png(imgs[i], 2, i + 1)), 16)
        assert np.allclose(np.array(out[i]["feature"], dtype=np.float32), want)
