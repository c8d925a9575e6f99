"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``(seed, scale)``: the same seed
gives byte-identical inputs, and the program under test receives only
the generated tables, never the seed or the ground truth.

- pages: ``fastlink_spark.sources.fixtures.generate_pages`` (Zipf hosts,
  injected near-duplicates, labeled pairs for the pairwise F1 gate).
- persons: a scaled two-table generator. The package's own
  ``generate_persons`` is fixed at ~500 x 350 rows, so this one draws
  ``n_a`` / ``n_b`` rows over ``n_city`` blocking cities and records
  every true A-B link it plants.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# Workload sizes. "full" is what the benchmark measures; "smoke" is the
# smallest size that still runs every stage, used by the smoke test.
# The pages corpus is cut to a fixed page count: at these sizes a call's
# wall time hardly depends on the input, so a seed-dependent page count
# would move records_per_s by itself.
PAGES = {"full": 420, "smoke": 120}
PERSONS_SIZE = {  # (n_a, n_b, n_link, n_city)
    "full": (2000, 1600, 400, 20),
    "smoke": (400, 320, 80, 8),
}

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class PersonsInput:
    a: pd.DataFrame  # pid, firstname, lastname, housenum, streetname, city, birthyear
    b: pd.DataFrame  # same schema, disjoint pid range
    true_links: pd.DataFrame  # pid_a, pid_b

    @property
    def records(self) -> int:
        return len(self.a) + len(self.b)

    def expected_candidates(self) -> int:
        """|A_c| * |B_c| summed over blocking cities: the exact pair
        count an equi-join on ``city`` must score."""
        na = self.a.groupby("city").size()
        nb = self.b.groupby("city").size()
        return int((na * nb.reindex(na.index, fill_value=0)).sum())


def pages(seed: int, scale: str = "full"):
    """Pages fixture (pages, entities_truth, labeled_pairs) cut to the
    first ``PAGES[scale]`` pages; the truth keeps only kept urls."""
    from fastlink_spark.sources.fixtures import PagesFixture, generate_pages

    n = PAGES[scale]
    # ~3 pages per base entity: n_base = n / 2 always yields more than n
    fx = generate_pages(n_base=n // 2, seed=seed)
    if len(fx.pages) < n:
        raise ValueError(f"seed {seed} generated {len(fx.pages)} < {n} pages")
    pages = fx.pages.iloc[:n].reset_index(drop=True)
    kept = set(pages["url"])
    lp = fx.labeled_pairs
    return PagesFixture(
        pages=pages,
        entities_truth=fx.entities_truth[fx.entities_truth["url"].isin(kept)],
        labeled_pairs=lp[lp["url_a"].isin(kept) & lp["url_b"].isin(kept)].reset_index(drop=True),
    )


def _words(rng: np.random.Generator, k: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, k)
    return ["".join(rng.choice(_LETTERS, n)) for n in lens]


def _typo(rng: np.random.Generator, s: str) -> str:
    """One random edit: substitute, delete or swap adjacent letters."""
    i = int(rng.integers(0, len(s)))
    op = rng.random()
    if op < 0.4:
        return s[:i] + str(rng.choice(_LETTERS)) + s[i + 1 :]
    if op < 0.7 and len(s) > 3:
        return s[:i] + s[i + 1 :]
    j = min(i + 1, len(s) - 1)
    chars = list(s)
    chars[i], chars[j] = chars[j], chars[i]
    return "".join(chars)


def persons(seed: int, scale: str = "full") -> PersonsInput:
    """Two person tables; ``n_link`` rows of A reappear in B with typos
    in the name and street fields, a missing house number now and then
    and an off-by-one birth year. Linked copies keep their city, so
    every true link is reachable through city blocking."""
    n_a, n_b, n_link, n_city = PERSONS_SIZE[scale]
    rng = np.random.default_rng([seed, 2])
    first = _words(rng, 400, 4, 8)
    last = _words(rng, 3000, 5, 10)
    streets = _words(rng, 400, 6, 11)
    cities = _words(rng, n_city, 5, 9)

    def table(n: int, start: int) -> pd.DataFrame:
        house = rng.integers(1, 9999, n).astype("float64")
        house[rng.random(n) < 0.05] = np.nan
        return pd.DataFrame(
            {
                "pid": np.arange(start, start + n, dtype="int64"),
                "firstname": rng.choice(first, n),
                "lastname": rng.choice(last, n),
                "housenum": house,
                "streetname": rng.choice(streets, n),
                "city": rng.choice(cities, n),
                "birthyear": rng.integers(1930, 2005, n).astype("int64"),
            }
        )

    a = table(n_a, 0)
    b_only = table(n_b - n_link, 10_000_000)
    src = rng.choice(n_a, n_link, replace=False)
    linked = a.iloc[src].copy().reset_index(drop=True)
    linked["pid"] = np.arange(20_000_000, 20_000_000 + n_link, dtype="int64")
    for col, p in (("firstname", 0.3), ("lastname", 0.2), ("streetname", 0.2)):
        linked[col] = [_typo(rng, s) if rng.random() < p else s for s in linked[col]]
    house = linked["housenum"].to_numpy().copy()
    house[rng.random(n_link) < 0.05] = np.nan
    linked["housenum"] = house
    year = linked["birthyear"].to_numpy().copy()
    shift = rng.random(n_link) < 0.1
    year[shift] += rng.choice(np.array([-1, 1]), int(shift.sum()))
    linked["birthyear"] = year
    # interleave the linked copies with the B-only rows so no partition
    # holds all of them
    b = (
        pd.concat([b_only, linked], ignore_index=True)
        .sample(frac=1.0, random_state=np.random.RandomState(seed))
        .reset_index(drop=True)
    )
    truth = pd.DataFrame(
        {"pid_a": a["pid"].to_numpy()[src], "pid_b": linked["pid"].to_numpy()}
    )
    return PersonsInput(a=a, b=b, true_links=truth)
