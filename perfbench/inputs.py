"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed (and of the live query
registry), so the same seed always yields byte-identical inputs, and
another seed yields other inputs with the same amount of work:

* ``write_etl_inputs`` amplifies the 18 call-log rows and 4 GDS rows of
  ``tests/fixtures.py``.  Each replica shifts every ``nhs_number`` by a
  per-replica offset, so replicas never collide and every pipeline
  output is exactly ``replicas`` times the fixture's; the seed shuffles
  the row order.
* ``sample_queries`` draws catalog names from the sorted registry by
  rule (a systematic sample of two strata), so there is no hand-kept
  list to maintain when queries move between modules.
* ``write_tables`` rewrites the catalog tables with their rows in a
  seeded order.
"""

from __future__ import annotations

import csv
import io
import random
import re
import sys
from collections.abc import Iterable
from pathlib import Path

#: nhs_number offset between replicas; fixture numbers are 900000001..17
NHS_STRIDE = 100

#: CLI user ids for prepare-calls (food, complex, simple, call-log review)
USERS = ("1", "2", "3", "4")

#: outputs of the 1x fixture: prepare-contacts rows, prepare-calls
#: staging CSV rows, and run-import table rows
FIXTURE_COUNTS = {
    "contacts_csv": 4,
    "staging": {
        "callback_needs": 6,
        "contact_profile_updates": 17,
        "food_needs": 3,
        "original_triage_needs": 17,
        "original_triage_notes": 35,
        "quality_assurance": 17,
        "remaining_needs": 6,
    },
    "db": {"contacts": 4, "needs": 10, "notes": 16},
}

TEXT_VECTOR_TABLES = re.compile(r"\b(documents|embeddings)\b")


def load_fixtures(repo: Path):
    """``tests/fixtures.py``: the call-log and GDS rows that exercise
    every branch of the pipeline."""
    sys.path.insert(0, str(repo / "tests"))
    try:
        import fixtures
    finally:
        sys.path.remove(str(repo / "tests"))
    return fixtures


def _shift(nhs: str, replica: int) -> str:
    return str(int(nhs) + replica * NHS_STRIDE) if nhs else nhs


def etl_rows(repo: Path, replicas: int, seed: int):
    """(calls header, calls rows, gds header, gds rows) for ``replicas``
    copies of the fixture, each copy with its own nhs_number range,
    row order shuffled by ``seed``."""
    fx = load_fixtures(repo)
    nhs_calls = fx.ORIGINAL_HEADERS.index("NHSNUMBER")
    calls, gds = [], []
    for r in range(replicas):
        for row in fx.CALLS_ROWS:
            row = list(row)
            row[nhs_calls] = _shift(row[nhs_calls], r)
            calls.append(row)
        for row in fx.GDS_ROWS:
            gds.append([_shift(row[0], r), *row[1:]])
    rng = random.Random(seed)
    rng.shuffle(calls)
    rng.shuffle(gds)
    return fx.ORIGINAL_HEADERS, calls, fx.GDS_HEADERS, gds


def _csv_bytes(header: list[str], rows: Iterable[list[str]], encoding: str) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode(encoding)


def write_etl_inputs(repo: Path, out: Path, replicas: int, seed: int) -> dict[str, Path]:
    """Write ``calls.csv`` (windows-1252, like the council's call log)
    and ``gds.csv`` (UTF-8) under ``out``; return their paths."""
    ch, calls, gh, gds = etl_rows(repo, replicas, seed)
    out.mkdir(parents=True, exist_ok=True)
    paths = {"calls": out / "calls.csv", "gds": out / "gds.csv"}
    paths["calls"].write_bytes(_csv_bytes(ch, calls, "windows-1252"))
    paths["gds"].write_bytes(_csv_bytes(gh, gds, "utf-8"))
    return paths


def sample_queries(oracles: dict[str, str], sizes: tuple[int, int], offset: int = 0) -> list[str]:
    """A systematic sample (every k-th sorted name) of ``sizes[0]``
    text/vector queries (oracle SQL reads ``documents`` or
    ``embeddings``) and ``sizes[1]`` other queries, in name order.

    The set and its order do not depend on the seed: the first queries
    of a process pay the session's first-use costs (JIT, Python
    workers, staged frames), so a seeded order would move seconds
    between queries from run to run.  The text/vector stratum keeps the
    Arrow-worker and staged-frame layers in the sample.  ``offset``
    moves every pick to a later neighbour (the JIT warm-up set)."""
    names = sorted(oracles)
    text_vector = [n for n in names if TEXT_VECTOR_TABLES.search(oracles[n])]
    other = sorted(set(names) - set(text_vector))
    chosen = []
    for pool, size in zip((text_vector, other), sizes):
        if not 0 < size <= len(pool):
            raise ValueError(f"sample of {size} from {len(pool)} queries")
        chosen += [pool[int(i * len(pool) / size) + offset] for i in range(size)]
    return sorted(chosen)


def write_tables(base: Path, out: Path, seed: int) -> Path:
    """Copy every parquet table of ``base`` to ``out`` with its rows in
    an order shuffled by ``seed``: the same rows, another physical
    layout, so query results (compared order-insensitively) do not
    change while the input does."""
    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    for src in sorted(base.glob("*.parquet")):
        table = pq.read_table(src)
        order = list(range(table.num_rows))
        random.Random(f"{seed}:{src.stem}").shuffle(order)
        pq.write_table(table.take(order), out / src.name, compression="snappy")
    return out


def count_csv_rows(path: Path) -> int:
    """Data rows of a CSV file (quoted multi-line cells count once)."""
    with open(path, newline="", encoding="utf-8") as fh:
        return sum(1 for _ in csv.reader(fh)) - 1


def staging_counts(staging: Path) -> dict[str, int]:
    return {p.stem: count_csv_rows(p) for p in sorted(staging.glob("*.csv"))}


def expected_etl_counts(replicas: int) -> dict:
    fc = FIXTURE_COUNTS
    return {
        "contacts_csv": replicas * fc["contacts_csv"],
        "staging": {k: replicas * v for k, v in fc["staging"].items()},
        "db": {k: replicas * v for k, v in fc["db"].items()},
    }

