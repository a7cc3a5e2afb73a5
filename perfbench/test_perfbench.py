"""Self-tests of the benchmark's inputs, helpers and metric table.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import contextlib
import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import inputs  # noqa: E402
from spans import Tracer, covered, metric_total  # noqa: E402


def _files(out: Path, seed: int) -> list[bytes]:
    paths = inputs.write_etl_inputs(ROOT, out, 3, seed)
    return [paths["calls"].read_bytes(), paths["gds"].read_bytes()]


def test_same_seed_same_inputs(tmp_path):
    assert _files(tmp_path / "a", 7) == _files(tmp_path / "b", 7)


def test_other_seed_other_inputs(tmp_path):
    a, b = _files(tmp_path / "a", 7), _files(tmp_path / "b", 8)
    assert a[0] != b[0] and a[1] != b[1]


def test_tables_are_seeded_permutations_of_the_committed_ones(tmp_path):
    import pyarrow.parquet as pq

    base = HERE / "data" / "sf0.001"
    a = inputs.write_tables(base, tmp_path / "a", 7)
    b = inputs.write_tables(base, tmp_path / "b", 7)
    c = inputs.write_tables(base, tmp_path / "c", 8)
    for t in ("lineitem", "documents", "embeddings"):
        name = f"{t}.parquet"
        assert (a / name).read_bytes() == (b / name).read_bytes()
        assert (a / name).read_bytes() != (c / name).read_bytes()
        rows = pq.read_table(a / name).to_pylist()
        want = pq.read_table(base / name).to_pylist()
        assert rows != want and sorted(map(repr, rows)) == sorted(map(repr, want))


def test_replicas_are_disjoint_copies_of_the_fixture():
    fx = inputs.load_fixtures(ROOT)
    header, calls, _, gds = inputs.etl_rows(ROOT, 1, 5)
    assert header == fx.ORIGINAL_HEADERS
    assert Counter(map(tuple, calls)) == Counter(map(tuple, fx.CALLS_ROWS))
    assert Counter(map(tuple, gds)) == Counter(map(tuple, fx.GDS_ROWS))
    _, calls3, _, gds3 = inputs.etl_rows(ROOT, 3, 5)
    nhs = fx.ORIGINAL_HEADERS.index("NHSNUMBER")
    per_replica = {r[nhs] for r in fx.CALLS_ROWS}
    assert len({r[nhs] for r in calls3}) == 3 * len(per_replica)
    assert len(calls3) == 3 * len(fx.CALLS_ROWS) and len(gds3) == 3 * len(fx.GDS_ROWS)


def test_one_replica_reproduces_fixture_counts(tmp_path):
    """The whole CLI pipeline on the 1x input gives the fixture's counts,
    which ``run.py`` multiplies by the replica count to check outputs."""
    from beacon_data_importer_spark import cli
    from beacon_data_importer_spark.session import get_spark

    get_spark(master="local[2]", shuffle_partitions=2).sparkContext.setLogLevel("ERROR")
    paths = inputs.write_etl_inputs(ROOT, tmp_path / "in", 1, 3)
    contacts, staging, db = tmp_path / "contacts.csv", tmp_path / "staging", tmp_path / "db"
    with open(contacts, "w") as fh, contextlib.redirect_stdout(fh):
        assert cli.main(["prepare-contacts", str(paths["gds"]), "--now", "2020-05-01"]) == 0
    assert cli.main(["prepare-calls", str(paths["calls"]), "-o", str(staging),
                     "-fnu", "1", "-cnu", "2", "-snu", "3", "-clru", "4"]) == 0
    with contextlib.redirect_stdout(None):
        assert cli.main(["run-import", "-d", str(db), "-s", str(staging),
                         "--init-contacts", str(contacts)]) == 0
    want = inputs.expected_etl_counts(1)
    assert inputs.count_csv_rows(contacts) == want["contacts_csv"]
    assert inputs.staging_counts(staging) == want["staging"]
    import duckdb

    for table, n in want["db"].items():
        got = duckdb.sql(f"SELECT count(*) FROM read_parquet('{db}/{table}.parquet/*.parquet')")
        assert got.fetchone()[0] == n


def text_vector_pool(oracles):
    return [n for n in oracles if inputs.TEXT_VECTOR_TABLES.search(oracles[n])]


def test_sampler_derives_from_live_registry():
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    sample = inputs.sample_queries(oracles, (7, 9))
    assert sample == sorted(sample) == inputs.sample_queries(dict(reversed(oracles.items())), (7, 9))
    assert len(set(sample)) == 16 and set(sample) <= set(entry.queries())
    assert len(set(sample) & set(text_vector_pool(oracles))) == 7
    # dropping one early name shifts the systematic sample: it is
    # computed from the registry, not a kept list
    other = sorted(set(oracles) - set(text_vector_pool(oracles)))
    fewer = {k: v for k, v in oracles.items() if k != other[1]}
    assert inputs.sample_queries(fewer, (7, 9)) != sample
    neighbours = inputs.sample_queries(oracles, (4, 4), offset=1)
    assert len(neighbours) == 8 and not set(neighbours) & set(sample)
    with pytest.raises(ValueError):
        inputs.sample_queries(oracles, (0, 9))


def test_covered_merges_overlapping_intervals():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == 4


def test_metric_total_parses_ui_values():
    assert metric_total("total (min, med, max (stageId: taskId))\n6.0 s (1.4 s, 1.5 s)") == 6.0
    assert metric_total("total (min, med, max)\n955 ms (1 ms, 2 ms)") == pytest.approx(0.955)
    assert metric_total("total (min, med, max)\n2.0 KiB (1 B)") == 2048
    assert metric_total("1,234") == 1234


def test_tracer_attributes_time_to_innermost_span():
    tr = Tracer()
    tr.op = "q"
    with tr.span("op") as op:
        with tr.span("catalog.build") as build:
            with tr.span("catalog.build"):
                pass
    assert tr.owner(build["start"])["name"] == "catalog.build"
    assert tr.total("catalog.build") == pytest.approx(build["end"] - build["start"])
    assert tr.owner(op["end"] + 10) is None


def test_benchmark_json_lists_what_run_py_prints():
    import json

    import run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER

