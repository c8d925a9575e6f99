"""Correctness checks on each timed operation's output.

Pure pandas, no Spark: every function takes the collected output plus
the generator's ground truth and returns ``(f1, problems)``, where
``problems`` is a list of human-readable failures (empty = correct).
A timed operation with any problem counts as failed.
"""

from __future__ import annotations

import pandas as pd

# pairwise F1 gate of the pages dedupe (BASELINE.json metric)
DEDUPE_F1_MIN = 0.99
# two-table gate: the five-field person spec links the planted copies
# at F1 ~0.99 on every seed tried; 0.95 leaves room for seed variation
LINK_TWO_F1_MIN = 0.95


def f1_score(tp: int, fp: int, fn: int) -> float:
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def pairwise_f1(entities: pd.DataFrame, labeled_pairs: pd.DataFrame) -> float:
    """Same definition as ``fastlink_spark.eval.pairwise_f1``: a labeled
    pair is predicted a match iff both urls are present and share a
    cluster_id; a url missing from the output predicts non-match."""
    cluster = entities.set_index("url")["cluster_id"]
    ca = labeled_pairs["url_a"].map(cluster)
    cb = labeled_pairs["url_b"].map(cluster)
    pred = ca.notna() & cb.notna() & (ca == cb)
    truth = labeled_pairs["is_match"].astype(bool)
    return f1_score(
        int((pred & truth).sum()), int((pred & ~truth).sum()), int((~pred & truth).sum())
    )


def check_dedupe(
    entities: pd.DataFrame,
    fixture,
    candidates: int,
    pattern_pairs: int,
    first_candidates: int | None,
) -> tuple[float, list[str]]:
    """``link_dedupe`` output: one entity row per input page, pairwise
    F1 >= DEDUPE_F1_MIN, and a candidate-pair count that equals the sum
    of the pattern counts and the count of the first timed call."""
    problems = []
    urls = fixture.pages["url"]
    if len(entities) != len(urls) or set(entities["url"]) != set(urls):
        problems.append(
            f"entities has {len(entities)} rows / {entities['url'].nunique()} urls "
            f"for {len(urls)} input pages"
        )
    f1 = pairwise_f1(entities, fixture.labeled_pairs)
    if f1 < DEDUPE_F1_MIN:
        problems.append(f"pairwise F1 {f1:.4f} < {DEDUPE_F1_MIN}")
    if candidates != pattern_pairs:
        problems.append(
            f"candidate pairs {candidates} != sum of pattern counts {pattern_pairs}"
        )
    if first_candidates is not None and candidates != first_candidates:
        problems.append(
            f"candidate pairs {candidates} differ from the first call's {first_candidates}"
        )
    return f1, problems


def check_link_two(
    matched: pd.DataFrame,
    persons,
    pattern_pairs: int,
    first_matched: int | None,
) -> tuple[float, list[str]]:
    """``link_records(one_to_one=True)`` output: a 1:1 pair set whose F1
    against the planted links is >= LINK_TWO_F1_MIN, every blocked pair
    scored exactly once, and the same pair count as the first call."""
    problems = []
    if matched["a_pid"].duplicated().any() or matched["b_pid"].duplicated().any():
        problems.append("one_to_one output repeats an A or B id")
    got = set(zip(matched["a_pid"].astype("int64"), matched["b_pid"].astype("int64")))
    truth = set(zip(persons.true_links["pid_a"], persons.true_links["pid_b"]))
    tp = len(got & truth)
    f1 = f1_score(tp, len(got) - tp, len(truth) - tp)
    if f1 < LINK_TWO_F1_MIN:
        problems.append(f"F1 vs true links {f1:.4f} < {LINK_TWO_F1_MIN}")
    expected = persons.expected_candidates()
    if pattern_pairs != expected:
        problems.append(
            f"scored pairs {pattern_pairs} != city-blocked pair count {expected}"
        )
    if first_matched is not None and len(matched) != first_matched:
        problems.append(
            f"{len(matched)} matched pairs differ from the first call's {first_matched}"
        )
    return f1, problems
