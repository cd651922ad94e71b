"""Workload definitions, seeded inputs and output checks.

Each workload is a list of *units*, run in a seeded order every pass:

- a registered query ``registry.QUERIES[name](spark, data_dir)`` (its
  build), whose returned DataFrame is collected (its execution);
- ``bronze_silver``: the first two steps of the medallion write path
  ``pipeline.run_medallion`` composes, ``build_bronze`` -> ``build_silver``;
- ``index_serve``: ``similarity.write_ivf_index``, then closed-loop top-k
  requests through ``similarity.query_ivf_index``.

The seed fixes the unit order of every pass and the serve request vectors;
the tables themselves come from ``datagen`` and do not depend on it.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from functools import partial

import numpy as np

from tools.check_oracle import normalize

BRONZE_SILVER = "bronze_silver"
INDEX_SERVE = "index_serve"
MEDALLION_STEPS = ("bronze", "silver")
SERVE_K = 10
SERVE_PER_PASS = 2
SERVE_NOISE = 0.02

# Operations whose time is mostly driver-side construction: quantile
# refinement runs 18 jobs before the query returns a DataFrame, the index
# write runs the deterministic Lloyd fit, and a serve request reads the
# index's centroids and ranks the probe cells on the driver before its scan.
DRIVER_FIT = ("quantile_3way_label", INDEX_SERVE)

# Operations whose time is the execution of a plan: queries that run <= 2
# jobs while building (scan + aggregation, skew-salted join, window, the
# Arrow UDF boundary) and the bronze and silver writes (partitioned scan ->
# shuffle -> parquet writes).
SCAN_EXEC = (
    "pricing_summary",
    "salted_join_revenue",
    "rolling_corr_7d",
    "gaps_islands_segments",
    "media_decode_features",
    BRONZE_SILVER,
)


@dataclass(frozen=True)
class Workload:
    units: tuple[str, ...]

    @property
    def queries(self) -> list[str]:
        return [u for u in self.units if u not in (BRONZE_SILVER, INDEX_SERVE)]

    @property
    def ops(self) -> list[str]:
        """Names under which a pass records its operations' latencies."""
        ops = []
        for unit in self.units:
            if unit == BRONZE_SILVER:
                ops += [f"write_{step}" for step in MEDALLION_STEPS]
            elif unit == INDEX_SERVE:
                ops += ["write_ivf_index", "serve_ivf"]
            else:
                ops.append(unit)
        return ops


WORKLOADS = {
    "driver_fit": Workload(DRIVER_FIT),
    "scan_exec": Workload(SCAN_EXEC),
}


class Inputs:
    """The seeded inputs of one run: a unit order per pass and the serve
    request vectors. Two instances with the same seed produce the same
    sequences."""

    def __init__(self, seed: int, units: list[str], corpus: np.ndarray | None):
        self._order_rng = random.Random(seed)
        self._req_rng = np.random.default_rng(seed)
        self._units = list(units)
        self._corpus = corpus

    def order(self) -> list[str]:
        units = list(self._units)
        self._order_rng.shuffle(units)
        return units

    def request(self) -> np.ndarray:
        """One serve request vector: a corpus row plus seeded Gaussian
        noise."""
        row = self._corpus[int(self._req_rng.integers(len(self._corpus)))]
        return row + self._req_rng.normal(0.0, SERVE_NOISE, row.shape)


# ---------------------------------------------------------------- checks


class Oracle:
    """DuckDB twins of the registered queries over the generated tables."""

    def __init__(self, data_dir: str, tables: list[str], scratch: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{scratch}'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def expected(self, sql: str):
        rel = self.con.sql(sql)
        return sorted(rel.columns), normalize(rel.fetchall(), rel.columns)

    def scalar(self, sql: str):
        return self.con.sql(sql).fetchone()[0]


def check_query(expected, columns, rows) -> str | None:
    exp_cols, exp_rows = expected
    if sorted(columns) != exp_cols:
        return f"columns {sorted(columns)} != {exp_cols}"
    got = normalize(rows, columns)
    if len(got) != len(exp_rows):
        return f"{len(got)} rows, expected {len(exp_rows)}"
    if got != exp_rows:
        first = next(i for i, (a, b) in enumerate(zip(got, exp_rows)) if a != b)
        return f"row {first}: {got[first]} != {exp_rows[first]}"
    return None


def _parquet(out: str, rel_path: str, part: str | None = None) -> str:
    glob = f"{part}=*/*.parquet" if part else "*.parquet"
    return (
        f"read_parquet('{os.path.join(out, rel_path)}/{glob}'"
        f", hive_partitioning = {str(part is not None).lower()})"
    )


def _expect(bad: list[str], label: str, got, want) -> None:
    if got != want:
        bad.append(f"{label}: {got} != {want}")


def check_bronze_silver(oracle: Oracle, out: str) -> list[str]:
    """Read the bronze and silver layers under ``out`` back with DuckDB and
    check them against the events table. Returns the problems found."""
    bad = []
    pq = partial(_parquet, out)
    expect = partial(_expect, bad)
    per_day = dict(
        oracle.con.sql(
            "SELECT CAST(ts AS DATE), count(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    bronze = dict(
        oracle.con.sql(
            f"SELECT CAST(event_date AS DATE), count(*) FROM "
            f"{pq('medallion/bronze/events', 'event_date')} GROUP BY 1"
        ).fetchall()
    )
    expect("bronze rows per day", bronze, per_day)
    counts = oracle.con.sql(
        "SELECT CAST(ts AS DATE) AS d, event_type, count(*) FROM events "
        "GROUP BY 1, 2"
    ).fetchall()
    silver = oracle.con.sql(f"SELECT * FROM {pq('medallion/silver/daily')}")
    cols = silver.columns
    silver_rows = {r[cols.index("date")]: r for r in silver.fetchall()}
    expect("silver days", sorted(silver_rows), sorted(per_day))
    for day, etype, n in counts:
        row = silver_rows.get(day)
        got = None if row is None else row[cols.index(f"{etype}_n")]
        expect(f"silver {day} {etype}_n", got, n)
    return bad


def check_index(oracle: Oracle, out: str, n_vectors: int) -> list[str]:
    """Read the IVF index under ``out`` back with DuckDB: every vector id
    once, and 8 centroids. Returns the problems found."""
    bad = []
    pq = partial(_parquet, out)
    expect = partial(_expect, bad)
    got = oracle.con.sql(f"SELECT vec_id FROM {pq('ivf', 'cell')} ORDER BY 1").fetchall()
    expect("ivf ids", [i for (i,) in got], list(range(n_vectors)))
    expect(
        "ivf centroids",
        oracle.scalar(f"SELECT count(*) FROM {pq('ivf/_centroids')}"),
        8,
    )
    return bad


# Tolerance on a returned score against the exact float64 cosine: the IVF
# index stores int8 vectors (step max|x|/127 per component), which moves a
# unit-vector cosine by up to ~1e-2.
SCORE_TOL = 2e-2


def check_serve(rows, query: np.ndarray, corpus: np.ndarray):
    """Check one serve response. Returns (problem or None, recall@k)."""
    ids = [int(r["vec_id"]) for r in rows]
    scores = [float(r["cosine"]) for r in rows]
    qn = query / np.linalg.norm(query)
    exact = corpus @ qn / np.linalg.norm(corpus, axis=1)
    truth = set(np.argsort(-exact, kind="stable")[:SERVE_K].tolist())
    recall = len(truth & set(ids)) / SERVE_K
    if len(ids) != SERVE_K or len(set(ids)) != SERVE_K:
        return f"{len(set(ids))} unique ids of {len(ids)}, want {SERVE_K}", recall
    if any(a < b for a, b in zip(scores, scores[1:])):
        return "scores not sorted descending", recall
    worst = max(abs(s - exact[i]) for i, s in zip(ids, scores))
    if worst > SCORE_TOL:
        return f"score off the exact cosine by {worst:.2e}", recall
    return None, recall
