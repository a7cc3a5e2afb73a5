"""Byte-level goldens for the CLI import pipeline.

``prepare-contacts``, ``prepare-calls`` and ``run-import
--init-contacts`` run through ``cli.main`` on the ``fixtures.py`` rows,
once as-is and once as a 3x replica with shifted ``nhs_number``s (so
the contacts table has several rows per replica and the surrogate-id
windows see ties).  The sha256 of ``contacts.csv``, of each staging CSV
and of each db table dumped in sorted order is pinned, so any change to
row order, cell formatting or id assignment shows up here — the
reference-parity tests in ``test_plans.py`` compare sorted rows only.

A second ``run-import`` into the same db dir covers the path where
``needs``/``notes`` already exist, a drifted staging header must fail
loudly with the file named, and no plan of the pipeline may use Spark's
ICU case mapping.
"""

from __future__ import annotations

import contextlib
import csv
import hashlib
import io
import os
import shutil

import pytest

import fixtures

from beacon_data_importer_spark import cli
from beacon_data_importer_spark.plans.calls import MSG_ORIGINAL_TRIAGE_NEED
from beacon_data_importer_spark.sources.csv import _petl_cell

NOW = "2020-05-01T12:00:00"
USERS = ["-fnu", "101", "-cnu", "102", "-snu", "103", "-clru", "104"]
STAGING = [
    "callback_needs",
    "contact_profile_updates",
    "food_needs",
    "original_triage_needs",
    "original_triage_notes",
    "quality_assurance",
    "remaining_needs",
]
TABLES = ("contacts", "needs", "notes")
#: nhs_number offset between replicas (fixture numbers are 900000001..17)
STRIDE = 100

GOLDEN = {
    1: {
        "callback_needs.csv": "ed0fa9da3508f3a3214f880f20360417e1f27ecc70a446cb5b50e013cdfb4033",
        "contact_profile_updates.csv": "6950d35a73aec7f31a6e4438ea81a37ee1a2f44a163a7ac0bf23cd9cf9a2bb02",
        "contacts": "365b4330346e7da5049c118cac30a21e3a3b819351449384660b9802323cc4d5",
        "contacts.csv": "9a27d5f00e2cc026b6d162b007011fae37f5e2cbbace856904dc8ab950b1fd41",
        "food_needs.csv": "17d206c5f0f1f4d7eab6121622874907f51b982a2d9b8dea72ed18b4a60bfea3",
        "needs": "a1c94914c6af1c7250021838f4566acf3620f918ee70c7aa4b29a5a096edf99b",
        "notes": "15df24200546552282698055ccb924213a108a8a1d4109c750bb7eec523896e4",
        "original_triage_needs.csv": "18fdb63817cf927f26bcaf54464b5d11f34d0ac1a688f8fc4f42adde9f507601",
        "original_triage_notes.csv": "dc0a0b87a219c37494037bf030c909e3c1bb6e5806f5e860a9e7caa8e1031393",
        "quality_assurance.csv": "b80986425b72b97f45a59000057db499c8004081351bc8b1930c2de360bd1f54",
        "remaining_needs.csv": "3669319786ad76711a80f873d75524654de61240c866818aea92f78ed0c47b23",
    },
    3: {
        "callback_needs.csv": "6296d6f17878b9b88172d6a284165f27f6323f44c3240ec07147b01dc754a679",
        "contact_profile_updates.csv": "4005735ec199b92e50ca23bc8ef87f80ff7acef6bef052e072623eaf830c96b1",
        "contacts": "f9f663fab22379affc3223d119a03c3fb305298c4e7bc9561bea63aebf6e9ff4",
        "contacts.csv": "843d4b96f893f74d49ec32d99961c43877b808b9cd90bda10a332459fd361356",
        "food_needs.csv": "7180fece8570de77df0d730f0d19c501698e4decbcfc68e3e81f1fabd15e5594",
        "needs": "550a83fb3f4e229beacbfdbec328cb8518d41ca6ade4a64371713162a7b02416",
        "notes": "afe65560d5991762178575cb2b11638bae995d02392f74f123bbbbf6435d1c4c",
        "original_triage_needs.csv": "f059386d4a5a783c74cc642183e23f11e1a50f98fe1fd31e3b37e9565d8638e6",
        "original_triage_notes.csv": "840f0e5dc0f5becfb45cbd72309b72d6f83df358f6871eb87ab0df7840f6c55b",
        "quality_assurance.csv": "ea740f2d3f3f7110648a87e9da4b1f09c2405daf509bd272fe38f210666fe894",
        "remaining_needs.csv": "069044b4144766fd3d0dc8914c5d00c48fc649cab3cea5855505ffea670990aa",
    },
}
#: db dumps after a second run-import of the 1x staging into the 1x db
GOLDEN_REIMPORT = {
    "contacts": "365b4330346e7da5049c118cac30a21e3a3b819351449384660b9802323cc4d5",
    "needs": "9c157b11f7612abb8274bccfd4317b260c054d38ac1a05c19b6dc24c0b1a976f",
    "notes": "ca2613bfdb3c8e8a7846a3316ec44ba129cdc5a989c3644d7af8cfe77d7376d6",
}


def _shift(nhs: str, replica: int) -> str:
    return str(int(nhs) + replica * STRIDE) if nhs else nhs


def _write_inputs(tmp, replicas: int) -> tuple[str, str]:
    nhs = fixtures.ORIGINAL_HEADERS.index("NHSNUMBER")
    calls, gds = [], []
    for r in range(replicas):
        for row in fixtures.CALLS_ROWS:
            calls.append([*row[:nhs], _shift(row[nhs], r), *row[nhs + 1:]])
        gds += [[_shift(row[0], r), *row[1:]] for row in fixtures.GDS_ROWS]
    paths = (str(tmp / "calls.csv"), str(tmp / "gds.csv"))
    for path, header, rows, enc in (
        (paths[0], fixtures.ORIGINAL_HEADERS, calls, "windows-1252"),
        (paths[1], fixtures.GDS_HEADERS, gds, "utf-8"),
    ):
        buf = io.StringIO()
        w = csv.writer(buf)
        w.writerow(header)
        w.writerows(rows)
        with open(path, "wb") as fh:
            fh.write(buf.getvalue().encode(enc))
    return paths


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _dump(spark, path) -> str:
    """sha256 of a parquet table as header + rows in sorted order, cells
    formatted like the CSV sinks."""
    df = spark.read.parquet(str(path))
    rows = sorted(
        ",".join(_petl_cell(v) for v in r) for r in df.collect()
    )
    return _sha("\n".join([",".join(df.columns), *rows]).encode())


def _db_hashes(spark, db) -> dict[str, str]:
    return {t: _dump(spark, db / f"{t}.parquet") for t in TABLES}


@contextlib.contextmanager
def _cli_session(spark):
    """``cli.main`` reuses the test session through ``get_spark``, which
    sets the engine's default shuffle width on it; put it back after."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _run(argv, stdout_path=os.devnull) -> None:
    with open(stdout_path, "w") as fh, contextlib.redirect_stdout(fh):
        assert cli.main(argv) == 0


def _pipeline(spark, tmp, replicas: int):
    calls_csv, gds_csv = _write_inputs(tmp, replicas)
    contacts = tmp / "contacts.csv"
    staging, db = tmp / "staging", tmp / "db"
    with _cli_session(spark):
        _run(["prepare-contacts", gds_csv, "--now", NOW], contacts)
        _run(["prepare-calls", calls_csv, "-o", str(staging), *USERS])
        _run(["run-import", "-d", str(db), "-s", str(staging),
              "--init-contacts", str(contacts)])
    hashes = {"contacts.csv": _sha(contacts.read_bytes())}
    for name in STAGING:
        hashes[f"{name}.csv"] = _sha((staging / f"{name}.csv").read_bytes())
    hashes.update(_db_hashes(spark, db))
    return hashes, staging, db


@pytest.fixture(scope="module")
def pipelines(spark, tmp_path_factory):
    return {
        n: _pipeline(spark, tmp_path_factory.mktemp(f"golden{n}x"), n)
        for n in GOLDEN
    }


@pytest.mark.parametrize("replicas", sorted(GOLDEN))
def test_cli_outputs_byte_identical(pipelines, replicas):
    got = pipelines[replicas][0]
    assert sorted(got) == sorted(GOLDEN[replicas])
    diff = {k: got[k] for k in got if got[k] != GOLDEN[replicas][k]}
    assert not diff, f"outputs changed at {replicas}x: {sorted(diff)}"


def _ids(spark, db, table: str) -> list[tuple[int, str]]:
    df = spark.read.parquet(str(db / f"{table}.parquet"))
    col = "name" if table == "needs" else "category"
    return sorted((r.id, r[col]) for r in df.select("id", col).collect())


def test_reimport_continues_ids(spark, pipelines, tmp_path):
    _, staging, db1 = pipelines[1]
    db = tmp_path / "db"
    shutil.copytree(db1, db)
    before = {t: _ids(spark, db, t) for t in ("needs", "notes")}
    with _cli_session(spark):
        _run(["run-import", "-d", str(db), "-s", str(staging)])
    after = {t: _ids(spark, db, t) for t in ("needs", "notes")}

    for t in ("needs", "notes"):
        ids = [i for i, _ in after[t]]
        assert len(ids) == len(set(ids)), f"{t}: repeated ids"
        old_max = max(i for i, _ in before[t])
        new = [i for i, _ in after[t] if i > old_max]
        # every row is new again (same staging) and ids run on densely
        assert new == list(range(old_max + 1, old_max + 1 + len(before[t])))
        assert after[t][: len(before[t])] == before[t]

    old_max = max(i for i, _ in before["needs"])
    new_needs = [(i, n) for i, n in after["needs"] if i > old_max]
    triage = [i for i, n in new_needs if n == MSG_ORIGINAL_TRIAGE_NEED]
    identified = [i for i, n in new_needs if n != MSG_ORIGINAL_TRIAGE_NEED]
    assert triage and identified and max(triage) < min(identified)

    assert _db_hashes(spark, db) == GOLDEN_REIMPORT


@pytest.mark.parametrize(
    "drift,name,column",
    [
        pytest.param("renamed", "food_needs", "user_id", id="renamed"),
        pytest.param("missing", "food_needs", "user_id", id="missing"),
        # read by the notes write only: it fails while the contacts and
        # needs writes running beside it succeed
        pytest.param(
            "renamed", "original_triage_notes", "import_data", id="notes_renamed"
        ),
        pytest.param(
            "missing", "original_triage_notes", "import_data", id="notes_missing"
        ),
    ],
)
def test_staging_header_drift_fails_loudly(
    spark, pipelines, tmp_path, drift, name, column
):
    """A drifted staging header stops run-import with the file named,
    instead of padding the column with NULL, and no table is swapped in
    or left half-written, whichever of the concurrent writes fails."""
    _, staging1, db1 = pipelines[1]
    staging, db = tmp_path / "staging", tmp_path / "db"
    shutil.copytree(staging1, staging)
    shutil.copytree(db1, db)
    target = staging / f"{name}.csv"
    with open(target, newline="") as fh:
        rows = list(csv.reader(fh))
    col = rows[0].index(column)
    if drift == "renamed":
        rows[0][col] = "user"
    else:
        rows = [r[:col] + r[col + 1:] for r in rows]
    with open(target, "w", newline="") as fh:
        csv.writer(fh).writerows(rows)

    before = _db_hashes(spark, db)
    with _cli_session(spark), pytest.raises(Exception) as ei:
        _run(["run-import", "-d", str(db), "-s", str(staging)])
    assert f"{name}.csv" in str(ei.value)
    assert _db_hashes(spark, db) == before  # nothing swapped in
    assert not list(db.glob("*.new"))


def test_etl_plans_use_no_icu_case_mapping(spark, pipelines, tmp_path, monkeypatch):
    """No plan of prepare-contacts, prepare-calls or run-import
    evaluates ``lower``/``upper``/``initcap``: the first of those a JVM
    evaluates builds Spark's ICU case tables, ~1.5 s on one core, which
    every CLI process would pay.  Frames pinned with ``localCheckpoint``
    hide their plans from the outputs', so those are checked too."""
    from beacon_data_importer_spark.plans.calls import CallsUsers, prepare_calls
    from beacon_data_importer_spark.plans.contacts import prepare_contacts
    from beacon_data_importer_spark.plans.import_stage import import_outputs

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    plans: dict[str, str] = {}
    frame_class = type(spark.range(0))
    checkpoint = frame_class.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans[f"checkpoint {len(plans)}"] = analyzed(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_class, "localCheckpoint", recording_checkpoint)
    calls_csv, gds_csv = _write_inputs(tmp_path, 1)
    _, staging, db = pipelines[1]
    frames = {"contacts.csv": prepare_contacts(spark, gds_csv, NOW)}
    frames.update(prepare_calls(spark, calls_csv, CallsUsers(101, 102, 103, 104)))
    frames.update(import_outputs(spark, str(db), str(staging)))
    plans.update({name: analyzed(df) for name, df in frames.items()})

    assert len(plans) == 1 + len(STAGING) + len(TABLES) + 2  # base, triage ids
    found = {
        name: [f for f in ("lower(", "upper(", "initcap(") if f in plan]
        for name, plan in plans.items()
    }
    assert not {name: fs for name, fs in found.items() if fs}
