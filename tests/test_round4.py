"""Round-4 additions: collect-free nameReweight m-renormalization,
materializer-retention safety of the greedy 1:1 fixpoint, shared
per-manager operator materializer, DL/Levenshtein hard-oracle helpers,
emlinklog arbitrary interaction sets, scratch-aware default
materializer, and incremental-state compaction."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ----------------------------- nameReweight m-renorm is collect-free

def test_name_reweight_renorm_no_driver_collect(spark, monkeypatch):
    """renormalize_m=True must never materialize the per-value match
    counts on the driver (unbounded for high-cardinality fields such as
    page titles at web scale). Guard: DataFrame.collect is poisoned
    while the operator builds its plan — any driver materialization
    inside name_reweight raises; results are then evaluated normally
    and must match the exact m_v/m_agree odds formula."""
    from fastlink_spark.em import emlink_mar
    from fastlink_spark.operators.reweight import name_reweight

    import pandas as pd

    patt = pd.DataFrame({"gamma_title": [2, 0], "cnt": [100, 900]})
    em = emlink_mar(patt, ["gamma_title"])
    m_agree = em.m["gamma_title"][em.levels["gamma_title"].index(2)]
    # high-cardinality shape: (almost) every value distinct
    n = 300
    records = spark.createDataFrame(
        [(i, f"title-{i}") for i in range(n)], "rec_id long, title string"
    )
    pairs = spark.createDataFrame(
        [(i, i + n, f"title-{i}", 2, 0.95) for i in range(n)]
        + [(7, 900, "title-7", 2, 0.95)]  # title-7 matched twice
        + [(8, 901, "x", 0, 0.2)],
        "a_rec_id long, b_rec_id long, a_title string, gamma_title int, zeta double",
    )

    def poisoned(self, *a, **k):
        raise AssertionError("driver collect inside name_reweight")

    real_collect = DataFrame.collect
    monkeypatch.setattr(DataFrame, "collect", poisoned)
    try:
        out = name_reweight(
            pairs, records, "title", em, renormalize_m=True, match_threshold=0.85
        )
    finally:
        monkeypatch.setattr(DataFrame, "collect", real_collect)

    got = {r["a_rec_id"]: r["zeta_reweighted"] for r in out.collect()}
    # title-7 appears twice among the n+1 matched agreeing pairs
    m7 = 2 / (n + 1)
    freqs = {f"title-{i}": 1 / n for i in range(n)}
    p7 = freqs["title-7"]
    u_agree = em.u["gamma_title"][em.levels["gamma_title"].index(2)]
    odds0 = 0.95 / 0.05
    o = odds0 * (u_agree / (p7 * p7)) * (m7 / m_agree)
    assert got[7] == pytest.approx(min(o / (1 + o), 1.0), rel=1e-9)
    assert got[8] == pytest.approx(0.2)  # non-agreeing untouched


# ------------------- greedy fixpoint survives parquet-cut retention

def test_greedy_dedupe_with_parquet_retention(spark, tmp_path):
    """Multi-round greedy 1:1 assignment under a parquet materializer
    (KEEP_PER_NAME=2 retention): the accepted union must roll through retained
    cuts so no round's output references deleted parquet. The chain
    a1>a2>a3>a4 forces one acceptance per round (3+ productive rounds,
    which deletes the round-0 'greedy_mutual' dir before the end)."""
    from fastlink_spark.operators.dedupe_matches import dedupe_matches
    from fastlink_spark.plans.materialize import parquet_materializer

    rows, score = [], 0.99
    # path graph a_i -- b_i -- a_{i+1}: strictly decreasing scores force
    # greedy to take (a_i, b_i) one round at a time
    for i in range(5):
        rows.append((i, i, score - 0.01 * i))
        if i < 4:
            rows.append((i + 1, i, score - 0.005 - 0.01 * i))
    pairs = spark.createDataFrame(rows, "a_rec_id long, b_rec_id long, zeta double")
    mat = parquet_materializer(str(tmp_path))
    out = dedupe_matches(pairs, materializer=mat).collect()
    got = {(r["a_rec_id"], r["b_rec_id"]) for r in out}
    assert got == {(i, i) for i in range(5)}


def test_checkpoint_manager_isolates_invocations(spark, tmp_path):
    """Each materializer() call gets its own inv_<n> namespace (r5:
    mirrors materialize.py's per-invocation design), so two operator
    invocations cutting the same hint can neither overwrite each
    other's live parquet NOR retention-delete across invocations —
    the r4 shared-counter design had the second failure mode at 3+
    cuts of one hint."""
    import os

    from fastlink_spark.plans.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path))
    m1 = mgr.materializer()
    m2 = mgr.materializer()
    df = spark.range(3)
    out1 = m1(df, "cut")
    m2(df, "cut")
    # 3 more cuts under the same hint in invocation 2: KEEP_PER_NAME
    # retention must only touch inv_0001's own cuts
    for _ in range(3):
        m2(df, "cut")
    assert sorted(os.listdir(tmp_path / "_op_stages")) == ["inv_0000", "inv_0001"]
    assert os.listdir(tmp_path / "_op_stages" / "inv_0000") == ["cut_000"]
    assert out1.count() == 3  # invocation 1's cut still readable


# ------------------------- scratch-aware default materializer

def test_bare_operator_uses_parquet_scratch(spark):
    """A bare connected_components() call (no materializer, no
    checkpoint manager) must discover a parquet scratch root in local
    mode and cut rounds there — not silently localCheckpoint."""
    import os

    from fastlink_spark.operators.cluster import connected_components
    from fastlink_spark.plans import materialize

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    out = connected_components(edges).collect()
    assert len({r["cluster_id"] for r in out}) == 1  # one chain
    app = spark.sparkContext.applicationId
    assert materialize._app_roots.get(app) is not None
    import tempfile

    scratch = os.path.join(tempfile.gettempdir(), f"fastlink_scratch_{app}")
    assert os.path.isdir(scratch)
    cuts = [
        d
        for inv in os.listdir(scratch)
        if inv.startswith("inv_")
        for d in os.listdir(os.path.join(scratch, inv))
    ]
    assert any(d.endswith("_000") or d.endswith("_001") for d in cuts)


def test_scratch_conf_key_overrides(spark, tmp_path):
    """spark.fastlink.scratchDir takes precedence over tmp discovery;
    each resolve(None) invocation gets its own inv_<n> namespace."""
    import os

    from fastlink_spark.plans import materialize

    app = spark.sparkContext.applicationId
    old = materialize._app_roots.pop(app, None)
    spark.conf.set("spark.fastlink.scratchDir", str(tmp_path))
    try:
        df = spark.range(5)
        materialize.resolve(None)(df, "confcut")
        sub = os.path.join(str(tmp_path), f"fastlink_scratch_{app}")
        assert os.path.isdir(sub)
        invs = [d for d in os.listdir(sub) if d.startswith("inv_")]
        assert invs and "confcut_000" in os.listdir(os.path.join(sub, invs[0]))
    finally:
        spark.conf.unset("spark.fastlink.scratchDir")
        materialize._app_roots.pop(app, None)
        if old is not None:
            materialize._app_roots[app] = old


def test_scratch_invocations_isolated_from_retention(spark):
    """Three bare operator invocations cutting the SAME hint must not
    delete each other's scratch: the first invocation's returned
    DataFrame is still readable after two later invocations write two
    newer cuts of that name (the KEEP_PER_NAME=2 deletion horizon)."""
    from fastlink_spark.plans import materialize

    outs = []
    for i in range(3):
        mat = materialize.resolve(None)
        outs.append(mat(spark.range(10 + i), "samehint"))
    # all three still evaluable — retention only acts within one inv_
    assert [df.count() for df in outs] == [10, 11, 12]


# ----------------------- emlinklog arbitrary interaction sets

def test_ipf_saturated_and_independence_closed_forms():
    """IPF must hit the two closed-form poles of the log-linear family:
    the saturated margin reproduces the target exactly; singleton-only
    margins (interactions=[]) give the outer product of marginals."""
    import numpy as np

    from fastlink_spark.em_log import _ipf

    rng = np.random.default_rng(7)
    shape = (2, 3, 2)
    t = rng.random(np.prod(shape)) + 0.05
    t = t / t.sum()
    sat = _ipf(t, shape, [(0, 1, 2)], iters=5)
    assert np.allclose(sat, t, atol=1e-12)
    ind = _ipf(t, shape, [(0,), (1,), (2,)], iters=50).reshape(shape)
    tj = t.reshape(shape)
    outer = (
        tj.sum(axis=(1, 2))[:, None, None]
        * tj.sum(axis=(0, 2))[None, :, None]
        * tj.sum(axis=(0, 1))[None, None, :]
    )
    assert np.allclose(ind, outer, atol=1e-10)


def test_emlinklog_three_way_interaction_matches_brute_force():
    """A saturated 3-way interaction must (a) change zeta vs the 2-way
    default on data with genuine 3-way structure, and (b) match a
    brute-force EM twin whose M-step fits the class joints DIRECTLY as
    normalized expected counts (the closed-form MLE of the saturated
    family)."""
    import itertools

    import numpy as np
    import pandas as pd

    from fastlink_spark.em_log import emlink_log

    # XOR-flavored m-class: mass concentrated where a^b^c == 1 — pure
    # 3-way dependence (all pairwise margins near-uniform); u-class
    # concentrated at (0,0,0)
    rows, cnts = [], []
    for a, b, c in itertools.product((0, 1), repeat=3):
        rows.append((a, b, c))
        m_mass = 300 if (a ^ b ^ c) == 1 else 10
        u_mass = 2000 if (a, b, c) == (0, 0, 0) else 40
        cnts.append(m_mass + u_mass)
    patt = pd.DataFrame(rows, columns=["gamma_x", "gamma_y", "gamma_z"])
    patt["cnt"] = cnts
    cols = ["gamma_x", "gamma_y", "gamma_z"]

    two = emlink_log(patt, cols)
    three = emlink_log(patt, cols, interactions=[("gamma_x", "gamma_y", "gamma_z")])
    assert np.max(np.abs(two["zeta"].to_numpy() - three["zeta"].to_numpy())) > 1e-3

    # brute-force saturated EM twin: complete patterns => masks are
    # one-hot, M-step = normalized expected counts per cell
    n = patt["cnt"].to_numpy(dtype=float)
    N = n.sum()
    G = 8
    pm = np.ones(G)
    pu = np.ones(G)
    # identical init to emlink_log (independent 0.85/0.15 and uniform)
    grid = np.array(list(itertools.product((0, 1), repeat=3)))
    for k in range(3):
        m1 = np.array([0.15, 0.85])
        u1 = np.array([0.5, 0.5])
        pm = pm * m1[grid[:, k]]
        pu = pu * u1[grid[:, k]]
    pm, pu = pm / pm.sum(), pu / pu.sum()
    lam = 0.1
    for _ in range(200):
        wm, wu = lam * pm, (1 - lam) * pu
        zeta = wm / np.maximum(wm + wu, 1e-12)
        new_lam = float((n * zeta).sum() / N)
        tm = np.maximum(n * zeta, 1e-12)
        tu = np.maximum(n * (1 - zeta), 1e-12)
        new_pm, new_pu = tm / tm.sum(), tu / tu.sum()
        d = max(
            abs(new_lam - lam),
            np.max(np.abs(new_pm - pm)),
            np.max(np.abs(new_pu - pu)),
        )
        lam, pm, pu = new_lam, new_pm, new_pu
        if d < 1e-5:
            break
    zeta_bf = (lam * pm) / np.maximum(lam * pm + (1 - lam) * pu, 1e-12)
    assert np.allclose(three["zeta"].to_numpy(), zeta_bf, atol=1e-6)


def test_emlinklog_interaction_validation():
    import itertools

    import pandas as pd
    import pytest as _pytest

    from fastlink_spark.em_log import emlink_log

    patt = pd.DataFrame(
        [(a, b, 10) for a, b in itertools.product((0, 1), repeat=2)],
        columns=["gamma_x", "gamma_y", "cnt"],
    )
    with _pytest.raises(ValueError, match="unknown interaction"):
        emlink_log(patt, ["gamma_x", "gamma_y"], interactions=[("gamma_x", "nope")])
    with _pytest.raises(ValueError, match=">=2"):
        emlink_log(patt, ["gamma_x", "gamma_y"], interactions=[("gamma_x",)])


# ------------------------- incremental-state compaction

def _mk_pages4(spark, rows):
    from datetime import datetime

    data = [
        (
            url,
            datetime(2026, 7, 1),
            f"<html><head><title>{t}</title></head><body>{x}</body></html>".encode(),
            x,
            "en",
        )
        for url, t, x in rows
    ]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_incremental_compact_empties_relabels_and_matches_batch(spark, tmp_path):
    """After merge events inflate the relabel map, compact() must
    (a) rewrite entities to the batch-CC labels, (b) leave the relabel map
    EMPTY, and (c) produce the same cluster partition as a from-scratch
    run over the union of all pages with the same frozen EM."""
    import json

    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker
    from tests.test_round3 import _RECRAWL_TOKENS, _toy_em

    t1 = " ".join(_RECRAWL_TOKENS)
    t1p = " ".join(["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)])
    t2 = " ".join(f"other{i}" for i in range(40))
    pages = [
        # batch 1: two pages that DON'T pair (no shared host, no shared band)
        ("https://hostone.example.com/a", "bridge title x", t1),
        ("https://hosttwo.example.com/b", "bridge title x", t2),
        # batch 2: bridges both — bands with page A (perturbed t1),
        # host block with page B, same title as both
        ("https://hosttwo.example.com/c", "bridge title x", t1p),
    ]
    cfg = LinkageConfig(threshold=0.5)
    linker = IncrementalLinker(spark, str(tmp_path / "st"), _toy_em(), cfg)
    linker.process_batch(_mk_pages4(spark, pages[:2]))
    ents0 = linker.entities().collect()
    assert len({r["cluster_id"] for r in ents0}) == 2  # not yet merged
    linker.process_batch(_mk_pages4(spark, pages[2:]))
    assert linker._read_relabels(), "bridge batch must produce a merge event"
    ents1 = {r["rec_id"]: r["cluster_id"] for r in linker.entities().collect()}
    assert len(set(ents1.values())) == 1  # merged through the relabel map

    compacted = linker.compact()
    assert linker._read_relabels() == {}  # emptied by the manifest commit
    ents2 = {r["rec_id"]: r["cluster_id"] for r in linker.entities().collect()}
    assert set(ents2) == set(ents1)
    assert len(set(ents2.values())) == 1
    # no read-time map is in play now: raw state == entities() view
    raw = {r["rec_id"]: r["cluster_id"] for r in compacted.collect()}
    assert raw == ents2

    # from-scratch single-shot run with the same frozen EM over the
    # union: identical partition (urls grouped identically)
    ref = IncrementalLinker(spark, str(tmp_path / "ref"), _toy_em(), cfg)
    ref.process_batch(_mk_pages4(spark, pages))
    def parts(ent_rows):
        by = {}
        for r in ent_rows:
            by.setdefault(r["cluster_id"], set()).add(r["url"])
        return sorted(map(frozenset, by.values()), key=sorted)
    assert parts(linker.entities().collect()) == parts(ref.entities().collect())


# ------------------------- cluster_match k-means++ seeding

def test_cluster_match_kmeanspp_deterministic_and_spread(spark):
    """init='kmeanspp' (deterministic farthest-first): identical
    centroids across runs, all-distinct seeds, and on a dataset with k
    well-separated blobs the fit must put each blob in its own cluster
    (hash-sample init can seed two in one blob; farthest-first cannot)."""
    import itertools

    from fastlink_spark.operators.cluster_match import (
        assign_clusters,
        fit_kmeans,
        letter_features,
    )

    # 4 blobs: words dominated by one letter each, lengths spread
    blobs = {"a": "aaaaaaaaaa", "e": "eeeeeeeeeeeeeeeeeeee", "x": "xxxxx", "z": "z" * 30}
    rows = [
        (bi * 100 + j, blobs[ch] + ("b" if j % 2 else ""))
        for bi, ch in enumerate(blobs)
        for j in range(10)
    ]
    df = spark.createDataFrame(rows, "rec_id long, txt string")
    feats = letter_features(df, "txt")
    c1 = fit_kmeans(feats, 4, n_iter=6, init="kmeanspp")
    c2 = fit_kmeans(feats, 4, n_iter=6, init="kmeanspp")
    assert c1 == c2  # bit-deterministic
    assert len({tuple(c) for c in c1}) == 4  # distinct seeds survived
    assigned = assign_clusters(feats, c1).select("rec_id", "cluster").collect()
    by_blob = {}
    for r in assigned:
        by_blob.setdefault(r["rec_id"] // 100, set()).add(r["cluster"])
    # each blob entirely in one cluster, all blobs separated
    assert all(len(cl) == 1 for cl in by_blob.values())
    assert len({next(iter(cl)) for cl in by_blob.values()}) == 4


def test_cluster_match_kmeanspp_fewer_distinct_points(spark):
    from fastlink_spark.operators.cluster_match import fit_kmeans, letter_features

    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "aa")], "rec_id long, txt string"
    )
    cents = fit_kmeans(letter_features(df, "txt"), 3, init="kmeanspp")
    assert len(cents) == 1  # early-stop, no duplicate phantom centroids


def test_incremental_batches_continue_after_compact(spark, tmp_path):
    """compact() must leave the state fully usable: a later batch that
    near-dups a pre-compact page still joins its (compacted) cluster."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker
    from tests.test_round3 import _RECRAWL_TOKENS, _toy_em

    t1 = " ".join(_RECRAWL_TOKENS)
    t1p = " ".join(["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)])
    linker = IncrementalLinker(
        spark, str(tmp_path / "st"), _toy_em(), LinkageConfig(threshold=0.5)
    )
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/orig", "recrawl title x", t1)])
    )
    linker.compact()
    linker.process_batch(
        _mk_pages4(spark, [("https://hosttwo.example.com/copy", "recrawl title x", t1p)])
    )
    ents = linker.entities().collect()
    assert len(ents) == 2
    assert len({r["cluster_id"] for r in ents}) == 1


def test_ipf_matches_declared_margins_property():
    """Log-linear MLE invariant: the IPF fit must reproduce the target's
    margin for EVERY declared interaction (and every singleton), for
    randomized targets and several generating classes."""
    import itertools

    import numpy as np

    from fastlink_spark.em_log import _ipf

    rng = np.random.default_rng(11)
    shape = (2, 3, 2, 2)
    K = len(shape)
    classes = [
        [(0, 1), (2, 3)],
        [(0, 1, 2)],
        [(0, 1), (1, 2), (2, 3), (0, 3)],
    ]
    for margins in classes:
        full = [tuple(m) for m in margins] + [(i,) for i in range(K)]
        for _ in range(3):
            t = rng.random(int(np.prod(shape))) + 0.01
            t = t / t.sum()
            q = _ipf(t, shape, full, iters=200).reshape(shape)
            tj = t.reshape(shape)
            for m in full:
                axes = tuple(a for a in range(K) if a not in m)
                assert np.allclose(q.sum(axis=axes), tj.sum(axis=axes), atol=1e-6), m


# ------------------- q31 lv oracle: unicode fallback path

def test_q31_lv_oracle_unicode_fallback(spark, tmp_path, monkeypatch):
    """DuckDB's levenshtein counts BYTES, Spark's counts code points —
    on any non-ASCII sampled prefix the oracle must switch from DuckDB
    recomputation to frozen code-point-twin literals, staying bit-equal
    to the production Spark path."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod

    docs = pd.DataFrame(
        {
            "doc_id": [0, 20, 40],
            "source": ["s1", "s1", "s1"],
            "text": ["café latte", "cafe latte", "unrelated text"],
            "lang": ["en", "en", "en"],
            "n_chars": [10, 10, 14],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", str(tmp_path))
    oracles = entry_mod._fitted_oracles()
    sql = oracles["q31_edit_distances"]
    assert "lvlit" in sql  # literal-injection fallback, not duckdb levenshtein

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    orows = {
        (r[0], r[1]): (r[2], r[3]) for r in con.sql(sql).fetchall()
    }
    srows = {
        (r["id_a"], r["id_b"]): (r["dl_q"], r["lv_q"])
        for r in entry_mod.q31_edit_distances(spark, str(tmp_path)).collect()
    }
    assert orows == srows and len(orows) >= 2  # (0,20) and (0,40), (20,40)?
    # code-point semantics: 'café latte' vs 'cafe latte' = 1 edit of 10
    assert srows[(0, 20)][1] == 900000


def test_incremental_plus_compact_equals_batch_partition(spark, tmp_path):
    """End-to-end equivalence on the labeled fixture: stream the corpus
    through the incremental linker in 3 arbitrary batches with the
    BATCH-fitted EM frozen, then compact() — the resulting entity
    partition must be IDENTICAL to link_dedupe over the whole corpus
    (same config, same EM). This pins the r4 semantic alignment
    (deterministic-fields pass + batch-operator compaction): any
    divergence between the streaming and batch match rules breaks it."""
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages
    from fastlink_spark.streaming.incremental import IncrementalLinker

    fx = generate_pages(n_base=120)
    pages = spark.createDataFrame(fx.pages)
    cfg = LinkageConfig()
    batch = link_dedupe(spark, pages, cfg)

    linker = IncrementalLinker(spark, str(tmp_path / "st"), batch.em, cfg)
    n = pages.count()
    # 3 deterministic slices by url hash
    for part in range(3):
        linker.process_batch(pages.where(F.pmod(F.xxhash64("url"), F.lit(3)) == part))
    linker.compact()

    def parts(rows):
        by = {}
        for r in rows:
            by.setdefault(r["cluster_id"], set()).add(r["url"])
        return sorted(map(frozenset, by.values()), key=sorted)

    got = parts(linker.entities().collect())
    want = parts(batch.entities.collect())
    assert got == want


# ----------------- incremental hardening (r4 self-review round 2)

def test_incremental_same_url_recrawl_supersedes(spark, tmp_path):
    """A re-crawl of the SAME url (same rec_id) must supersede, not
    duplicate: entities() serves exactly one row per rec_id. Cluster
    membership is MERGE-MONOTONE between compactions (a stream can
    cheaply add edges, never retract them — standard incremental-CC
    semantics), so the split the changed text implies materializes at
    compact(), which re-links the LATEST crawl rows."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker
    from tests.test_round3 import _RECRAWL_TOKENS, _toy_em

    t1 = " ".join(_RECRAWL_TOKENS)
    t1p = " ".join(["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)])
    t_new = " ".join(f"fresh{i}" for i in range(40))
    url_x = "https://hostx.example.com/page"
    linker = IncrementalLinker(
        spark, str(tmp_path / "st"), _toy_em(), LinkageConfig(threshold=0.5)
    )
    # batch 1: X matches partner O (near-dup text, same title)
    linker.process_batch(
        _mk_pages4(
            spark,
            [
                (url_x, "recrawl title x", t1),
                ("https://hosto.example.com/o", "recrawl title x", t1p),
            ],
        )
    )
    e1 = linker.entities().collect()
    assert len(e1) == 2 and len({r["cluster_id"] for r in e1}) == 1
    # batch 2: X re-crawled with unrelated text AND title
    linker.process_batch(_mk_pages4(spark, [(url_x, "totally new", t_new)]))
    e2 = linker.entities().collect()
    assert len(e2) == 2  # ONE row per rec_id, not three (supersede, no dup)
    # compact() re-links the latest crawls: X and O now split
    linker.compact()
    by_url = {r["url"]: r["cluster_id"] for r in linker.entities().collect()}
    assert len(by_url) == 2
    assert by_url[url_x] != by_url["https://hosto.example.com/o"]


def test_incremental_batch_replay_is_noop(spark, tmp_path):
    """At-least-once foreachBatch: redelivering an already-committed
    batch_id must change nothing (returns None, state byte-identical)."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker
    from tests.test_round3 import _toy_em

    linker = IncrementalLinker(
        spark, str(tmp_path / "st"), _toy_em(), LinkageConfig(threshold=0.5)
    )
    pages = _mk_pages4(
        spark, [("https://a.example.com/1", "t", "alpha beta gamma " * 5)]
    )
    out1 = linker.process_batch(pages, batch_id=0)
    assert out1 is not None
    snap = sorted((r["rec_id"], r["cluster_id"]) for r in linker.entities().collect())
    assert linker.process_batch(pages, batch_id=0) is None  # replay skipped
    assert (
        sorted((r["rec_id"], r["cluster_id"]) for r in linker.entities().collect())
        == snap
    )
    # a NEW batch id still applies
    assert linker.process_batch(
        _mk_pages4(spark, [("https://b.example.com/2", "t2", "other words " * 5)]),
        batch_id=1,
    ) is not None
    assert linker.entities().count() == 2


def test_incremental_wide_rec_id_merge(spark, tmp_path):
    """wide_rec_id=True (128-bit hex string keys) through the full
    incremental path INCLUDING a merge event: the relabel union-find
    and map must handle string labels (the long-typed path raised
    ValueError here before r4's second review pass)."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker
    from tests.test_round3 import _RECRAWL_TOKENS, _toy_em

    t1 = " ".join(_RECRAWL_TOKENS)
    t1p = " ".join(["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)])
    t2 = " ".join(f"other{i}" for i in range(40))
    cfg = LinkageConfig(threshold=0.5, wide_rec_id=True)
    linker = IncrementalLinker(spark, str(tmp_path / "st"), _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(
            spark,
            [
                ("https://hostone.example.com/a", "bridge title x", t1),
                ("https://hosttwo.example.com/b", "bridge title x", t2),
            ],
        )
    )
    assert len({r["cluster_id"] for r in linker.entities().collect()}) == 2
    # bridge batch -> merge event over STRING labels
    linker.process_batch(
        _mk_pages4(spark, [("https://hosttwo.example.com/c", "bridge title x", t1p)])
    )
    ents = linker.entities().collect()
    assert len(ents) == 3
    assert len({r["cluster_id"] for r in ents}) == 1
    assert all(isinstance(r["cluster_id"], str) and len(r["cluster_id"]) == 32 for r in ents)


# ----------------- core-operator review fixes (r4 pass 3)

def test_em_sample_fit_unseen_level_keeps_evidence():
    """emlinkRS hazard: a level absent from the fit sample must not be
    scored as MAR-missing at apply time. With level_universe +
    dirichlet_w, an unseen full-agreement level scores HIGHER than both
    a missing field and the disagreement level."""
    import pandas as pd

    from fastlink_spark.em import apply_em, emlink_mar

    # sample saw only levels {0, 1} on g1 (never the rare full-agree 2)
    sample = pd.DataFrame(
        {"g1": [0, 1, 0, 1], "g2": [0, 2, 2, 0], "cnt": [900, 40, 50, 60]}
    )
    em = emlink_mar(
        sample,
        ["g1", "g2"],
        level_universe={"g1": [0, 1, 2], "g2": [0, 2]},
        dirichlet_w=1.0,
    )
    assert em.levels["g1"] == [0, 1, 2]
    full = pd.DataFrame(
        {"g1": [2, None, 1, 0], "g2": [2, 2, 2, 2], "cnt": [1, 1, 1, 1]}
    )
    z = apply_em(full, em)
    zs = {(r["g1"], r["g2"]): r["zeta"] for _, r in z.iterrows()}
    assert zs[(2, 2)] > zs[(None, 2)]  # unseen agreement beats missing
    assert zs[(2, 2)] > zs[(0, 2)]  # and beats disagreement
    # without the universe, the unseen level IS scored as missing
    em0 = emlink_mar(sample, ["g1", "g2"])
    z0 = apply_em(full, em0)
    zs0 = {(r["g1"], r["g2"]): r["zeta"] for _, r in z0.iterrows()}
    assert zs0[(2, 2)] == pytest.approx(zs0[(None, 2)])


def test_apply_em_empty_pattern_table():
    import pandas as pd

    from fastlink_spark.em import apply_em, emlink_mar

    em = emlink_mar(pd.DataFrame({"g1": [0, 2], "cnt": [90, 10]}), ["g1"])
    out = apply_em(pd.DataFrame({"g1": [], "cnt": []}), em)
    assert len(out) == 0 and "zeta" in out.columns


def test_cc_self_loop_only_node_is_singleton(spark):
    from fastlink_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [(7, 7), (1, 2)], "u long, v long"
    )
    out = {(r["id"], r["cluster_id"]) for r in connected_components(edges).collect()}
    assert out == {(7, 7), (1, 1), (2, 1)}


def test_ivf_refine_empty_and_null_corpus(spark):
    from fastlink_spark.operators.similarity import ivf_topk

    empty = spark.createDataFrame([], "doc_id long, vec array<double>")
    q = spark.createDataFrame([(1, [1.0, 0.0])], "doc_id long, vec array<double>")
    assert ivf_topk(empty, q, "doc_id", "vec", k=3, n_cells=4, refine_iters=2).count() == 0
    nulls = spark.createDataFrame([(9, None)], "doc_id long, vec array<double>")
    # null-vec corpus: no crash (len(None) previously raised)
    assert ivf_topk(nulls, q, "doc_id", "vec", k=3, n_cells=4, refine_iters=1).count() == 0


def test_simhash_single_table_full_width(spark):
    """n_tables=1 at bits=64: the last-slice mask spans the full word —
    (1<<64)-1 overflowed a Java long before the -1 two's-complement fix."""
    from fastlink_spark.operators.dedup import simhash_pairs_multi

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 4), (2, "alpha beta gamma delta " * 4),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    out = simhash_pairs_multi(docs, "doc_id", "text", n_tables=1, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_embedding_plane_count_validated(spark):
    from fastlink_spark.operators.dedup import embedding_dup_pairs

    emb = spark.createDataFrame([(1, [1.0, 0.0])], "doc_id long, vec array<double>")
    with pytest.raises(ValueError, match="HYPERPLANE"):
        embedding_dup_pairs(emb, "doc_id", "vec", n_buckets_hint=1024)


def test_exact_dup_groups_capped_members(spark):
    from fastlink_spark.operators.dedup import exact_dup_groups

    docs = spark.createDataFrame(
        [(i, "same text") for i in range(10)] + [(100, "unique")],
        "doc_id long, text string",
    )
    out = exact_dup_groups(docs, "doc_id", "text", max_ids=3).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 10  # count stays exact
    assert out[0]["doc_ids"] == [0, 1, 2]  # members capped, deterministic


# ----------------- review pass 4 fixes

def test_greedy_long_chain_exceeds_max_rounds(spark):
    """A dependency chain longer than max_rounds must NOT silently drop
    its tail: the residual per-component greedy finishes it with exact
    sequential-greedy semantics."""
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    rows = []
    # chain: (a_i, b_i) score decreasing; (a_{i+1}, b_i) just below —
    # sequential greedy accepts every (a_i, b_i), one per round
    for i in range(8):
        rows.append((i, i, 0.99 - 0.02 * i))
        if i < 7:
            rows.append((i + 1, i, 0.98 - 0.02 * i))
    pairs = spark.createDataFrame(rows, "a_rec_id long, b_rec_id long, zeta double")
    full = {
        (r["a_rec_id"], r["b_rec_id"])
        for r in dedupe_matches(pairs, max_rounds=50).collect()
    }
    capped = {
        (r["a_rec_id"], r["b_rec_id"])
        for r in dedupe_matches(pairs, max_rounds=3).collect()
    }
    assert full == {(i, i) for i in range(8)}
    assert capped == full  # tail finished, not dropped


def test_numeric_fieldspec_default_partial_not_phantom():
    """kind='numeric' with the shared cut_partial default (0.88 < any
    real distance window) must collapse to a 2-level ladder — level 1
    was unreachable, and possible_levels advertising it would soak
    Dirichlet pseudo-mass for a phantom cell."""
    from fastlink_spark.operators.gammas import FieldSpec

    f = FieldSpec("age", kind="numeric", cut_full=5.0)
    assert f.possible_levels() == [0, 2]
    g = FieldSpec("age", kind="numeric", cut_full=5.0, cut_partial=10.0)
    assert g.possible_levels() == [0, 1, 2]


def test_numeric_gamma_wider_partial(spark):
    from fastlink_spark.operators.gammas import FieldSpec, with_gammas

    pairs = spark.createDataFrame(
        [(1, 2, 30.0, 33.0), (3, 4, 30.0, 38.0), (5, 6, 30.0, 50.0)],
        "a_rec_id long, b_rec_id long, a_age double, b_age double",
    )
    out = {
        r["a_rec_id"]: r["gamma_age"]
        for r in with_gammas(
            pairs, [FieldSpec("age", kind="numeric", cut_full=5.0, cut_partial=10.0)]
        ).collect()
    }
    assert out == {1: 2, 3: 1, 5: 0}


def test_emlinklog_empty_raises():
    import pandas as pd
    import pytest as _pytest

    from fastlink_spark.em_log import emlink_log

    with _pytest.raises(ValueError, match="empty pattern table"):
        emlink_log(pd.DataFrame({"g1": [], "cnt": []}), ["g1"])


def test_pairwise_f1_counts_lost_records(spark):
    """A labeled record absent from entities must count as
    predicted-non-match (fn when is_match), not silently vanish from
    the denominator."""
    from fastlink_spark.eval import pairwise_f1

    entities = spark.createDataFrame(
        [("u1", 1), ("u2", 1)], "url string, cluster_id long"
    )
    labeled = spark.createDataFrame(
        [("u1", "u2", True), ("u1", "u3", True), ("u2", "u3", False)],
        "url_a string, url_b string, is_match boolean",
    )
    m = pairwise_f1(entities, labeled)
    # u3 lost: (u1,u3) -> fn; (u2,u3) -> tn; (u1,u2) -> tp
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (1, 0, 1, 1)


def test_streaming_dedup_string_ids(spark, tmp_path):
    """streaming_exact_dedup with wide hex STRING ids — output/state
    schemas must follow the input types (LongType was hardcoded)."""
    from fastlink_spark.streaming.windowed import streaming_exact_dedup

    src = tmp_path / "in"
    spark.createDataFrame(
        [("aa" * 16, 7), ("bb" * 16, 7), ("cc" * 16, 9)],
        "doc_id string, text_hash long",
    ).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id string, text_hash long").parquet(str(src))
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_str_ids")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["doc_id"], r["text_hash"])
        for r in spark.sql("select * from dedup_str_ids").collect()
    }
    assert rows == {("aa" * 16, 7), ("cc" * 16, 9)}


def test_incremental_wide_rec_id_compact(spark, tmp_path):
    """compact() under wide_rec_id: batch CC over 128-bit hex STRING
    keys, entities rewritten with string labels, relabel map emptied."""
    import json

    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker
    from tests.test_round3 import _RECRAWL_TOKENS, _toy_em

    t1 = " ".join(_RECRAWL_TOKENS)
    t1p = " ".join(["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)])
    t2 = " ".join(f"other{i}" for i in range(40))
    cfg = LinkageConfig(threshold=0.5, wide_rec_id=True)
    linker = IncrementalLinker(spark, str(tmp_path / "st"), _toy_em(), cfg)
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
        _mk_pages4(spark, [("https://hosttwo.example.com/c", "bridge title x", t1p)])
    )
    assert linker._read_relabels()  # merge happened over string labels
    linker.compact()
    assert linker._read_relabels() == {}  # emptied by the manifest commit
    ents = linker.entities().collect()
    assert len(ents) == 3 and len({r["cluster_id"] for r in ents}) == 1
    assert all(isinstance(r["cluster_id"], str) and len(r["cluster_id"]) == 32 for r in ents)
