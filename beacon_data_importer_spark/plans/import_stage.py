"""The relational import stage — Spark emulation of the reference's
Postgres scripts (SURVEY §2.9, §4.3.1-2; ``sql/*.sql``).

The reference loads the prepared CSVs into typed staging tables and runs
three scripts; the one hard construct is the data-modifying CTE with
RETURNING (insert triage needs, capture generated ids, attach notes to
those fresh ids — ``import_original_triage_needs_and_notes.sql:5-40``).
Spark emulation: assign ``id = max_existing + row_number()`` BEFORE the
append, pin the id-bearing frame (``localCheckpoint``), and run the notes
join against it.
Note multiplication semantics are preserved: a contact with N inserted
needs × M staged notes yields N×M note rows, exactly like the SQL.

Typed staging boundary: ``create_tmp_tables.sql:1-41`` fixes the column
types — enforced here by explicit casts at `stage_*` construction.

100 TB posture: joins are key-shuffles (broadcast the contacts_map side
when bounded); id assignment is the only global window and operates on
the per-import staging batch, never the full fact table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.expressions import ascii_lower
from ..operators.surrogate import assign_surrogate_ids
from ..operators.upsert import update_from
from ..sources.csv import read_csv_declared
from .calls import STAGING_COLUMNS
from .contacts import OUTPUT_COLUMNS as CONTACTS_CSV_COLUMNS

# Typed staging boundary — the engine's equivalent of
# ``create_tmp_tables.sql:1-41`` (S7): the all-string prepared CSVs are
# cast to real types here.
def _st(*fields: tuple[str, object, bool]) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


STAGING_SCHEMAS: dict[str, StructType] = {
    "original_triage_needs": _st(
        ("nhs_number", StringType(), False),
        ("category", StringType(), False),
        ("name", StringType(), False),
        ("created_at", DateType(), False),
        ("updated_at", DateType(), False),
        ("completed_on", DateType(), True),
    ),
    "original_triage_notes": _st(
        ("nhs_number", StringType(), False),
        ("category", StringType(), False),
        ("body", StringType(), False),
        ("created_at", DateType(), False),
        ("updated_at", DateType(), False),
        ("import_data", StringType(), True),  # jsonb carried as JSON string
    ),
    "identified_needs": _st(
        ("nhs_number", StringType(), False),
        ("category", StringType(), False),
        ("name", StringType(), True),
        ("created_at", DateType(), False),
        ("updated_at", DateType(), False),
        ("completed_on", DateType(), True),
        ("supplemental_data", StringType(), True),
        ("user_id", LongType(), True),
        ("start_on", DateType(), True),
    ),
    "contact_profile_updates": _st(
        ("nhs_number", StringType(), False),
        ("additional_info", StringType(), True),
        ("delivery_details", StringType(), True),
        ("dietary_details", StringType(), True),
        ("has_covid_symptoms", BooleanType(), True),
    ),
}


def parse_staging_bool(c: Column) -> Column:
    """A staged 'True'/'False' cell (any case) → boolean; else NULL."""
    folded = ascii_lower(c)
    return F.when(folded == "true", F.lit(True)).when(
        folded == "false", F.lit(False)
    )


def read_staging(
    spark: SparkSession, staging_dir: str, name: str, kind: str
) -> DataFrame:
    """Load the prepared CSV ``name`` into its typed staging frame (the
    ``\\COPY`` + typed-tmp-table step, S6/S7).  The file is read with its
    staging-contract header as a declared schema (``STAGING_COLUMNS``),
    so a drifted header fails the import naming the file.  Empty cells →
    NULL, then cast per the ``kind`` schema; 'True'/'False' strings →
    boolean; schema fields outside the file's contract are padded NULL
    (the three needs CSVs carry different column subsets — ``\\COPY``
    with a column list)."""
    from os.path import join

    schema = STAGING_SCHEMAS[kind]
    columns = STAGING_COLUMNS[name]
    # multiLine: note bodies / need names contain embedded newlines
    # (compose_body); escape='"' matches csv-writer quote doubling.
    raw = read_csv_declared(
        spark, join(staging_dir, f"{name}.csv"), columns, multiLine="true", escape='"'
    )
    cols = []
    for f in schema.fields:
        if f.name not in columns:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        c = F.when(F.col(f.name) != "", F.col(f.name))  # '' -> NULL
        if isinstance(f.dataType, BooleanType):
            c = parse_staging_bool(c)
        else:
            c = c.cast(f.dataType)
        cols.append(c.alias(f.name))
    return raw.select(*cols)


def _max_id(df: DataFrame, id_col: str = "id") -> int:
    """Current max surrogate id (0 for an empty table).  A driver-side
    scalar — one value, not a materialization — and at most one such job
    per existing table per import BATCH: a table that does not exist yet
    starts at 0 without one, and the id offset after an insert is known
    from the inserted row count (see ``run_import``).  Fine for the
    reference's dimension-sized imports (RETURNING emulation inherently
    reads back a scalar).  Do
    NOT reach for this on a per-row or per-partition cadence: the
    fact-table path is ``operators/surrogate.assign_surrogate_ids_
    scalable`` (zipWithIndex-free prefix-sum ids), which never runs a
    driver-side read at all."""
    row = df.agg(F.max(id_col).alias("m")).collect()[0]
    return int(row.m) if row.m is not None else 0


@dataclass
class ImportResult:
    contacts: DataFrame
    needs: DataFrame
    notes: DataFrame
    #: max needs id once the triage needs are in (the next INSERT's offset)
    needs_max_id: int


def contacts_map(contacts: DataFrame) -> DataFrame:
    """``WITH contacts_map AS (SELECT id AS contact_id, nhs_number …)``
    (M1, ``import_identified_needs.sql:1-5``)."""
    return contacts.select(F.col("id").alias("contact_id"), "nhs_number")


def import_original_triage_needs_and_notes(
    contacts: DataFrame,
    needs: DataFrame,
    notes: DataFrame,
    tmp_needs: DataFrame,
    tmp_notes: DataFrame,
    needs_max_id: int | None = None,
    notes_max_id: int | None = None,
) -> ImportResult:
    """``import_original_triage_needs_and_notes.sql`` — the RETURNING
    pipeline.  Order of generated ids: (nhs_number, __source ordering via
    row_number over nhs_number) — Postgres RETURNING order is arbitrary;
    the engine pins a deterministic one.  ``*_max_id`` are the tables'
    current max ids when the caller knows them (else read by
    ``_max_id``).

    The inserted needs are pinned (``localCheckpoint``): the needs
    write and the notes join read the same ids without re-running the
    id window, and their count gives the next offset without a job over
    the needs table."""
    cmap = F.broadcast(contacts_map(contacts))
    start = _max_id(needs) if needs_max_id is None else needs_max_id

    resolved = tmp_needs.join(cmap, "nhs_number")  # inner: unmatched drop out
    inserted = assign_surrogate_ids(
        resolved,
        ["nhs_number", "category", "name"],
        id_col="id",
        start_after=start,
    ).localCheckpoint()
    new_needs = inserted.select(
        "id",
        "contact_id",
        "category",
        "name",
        "created_at",
        "updated_at",
        "completed_on",
    )
    needs_out = needs.unionByName(new_needs, allowMissingColumns=True)

    # notes ⋈ contacts_map ⋈ inserted_needs ON contact_id — N×M fan-out
    # preserved (``…sql:29-39``)
    ins_keys = inserted.select(
        F.col("id").alias("need_id"), F.col("contact_id").alias("__cid")
    )
    attached = (
        tmp_notes.join(cmap, "nhs_number")
        .join(ins_keys, F.col("contact_id") == F.col("__cid"))
        .select(
            "need_id", "category", "body", "created_at", "updated_at", "import_data"
        )
    )
    new_notes = assign_surrogate_ids(
        attached,
        ["need_id", "category", "body"],
        id_col="id",
        start_after=_max_id(notes) if notes_max_id is None else notes_max_id,
    )
    notes_out = notes.unionByName(new_notes, allowMissingColumns=True)
    return ImportResult(
        contacts=contacts,
        needs=needs_out,
        notes=notes_out,
        needs_max_id=start + inserted.count(),
    )


def import_identified_needs(
    contacts: DataFrame,
    needs: DataFrame,
    tmp_identified_needs: DataFrame,
    needs_max_id: int | None = None,
) -> DataFrame:
    """``import_identified_needs.sql:6-27`` — INSERT…SELECT with the
    contact-id resolution join; ids continue after ``needs_max_id``
    (read by ``_max_id`` when not given)."""
    cmap = F.broadcast(contacts_map(contacts))
    resolved = tmp_identified_needs.join(cmap, "nhs_number")
    inserted = assign_surrogate_ids(
        resolved,
        ["nhs_number", "category", "name"],
        id_col="id",
        start_after=_max_id(needs) if needs_max_id is None else needs_max_id,
    )
    new_needs = inserted.select(
        "id",
        "contact_id",
        "category",
        "name",
        "created_at",
        "updated_at",
        "completed_on",
        "supplemental_data",
        "user_id",
        "start_on",
    )
    return needs.unionByName(new_needs, allowMissingColumns=True)


PROFILE_COLS = [
    "additional_info",
    "delivery_details",
    "dietary_details",
    "has_covid_symptoms",
]

# persistent application tables (FIXTURES.md §A4)
NEEDS_SCHEMA = _st(
    ("id", LongType(), False),
    ("contact_id", LongType(), False),
    ("category", StringType(), False),
    ("name", StringType(), True),
    ("created_at", DateType(), False),
    ("updated_at", DateType(), False),
    ("completed_on", DateType(), True),
    ("supplemental_data", StringType(), True),
    ("user_id", LongType(), True),
    ("start_on", DateType(), True),
)
NOTES_SCHEMA = _st(
    ("id", LongType(), False),
    ("need_id", LongType(), False),
    ("category", StringType(), False),
    ("body", StringType(), False),
    ("created_at", DateType(), False),
    ("updated_at", DateType(), False),
    ("import_data", StringType(), True),
)


def init_contacts_from_csv(spark: SparkSession, contacts_csv: str) -> DataFrame:
    """Create the persistent ``contacts`` table from a prepared
    contacts.csv (the step the Beacon app itself performs): surrogate ids
    assigned deterministically by nhs_number order; profile columns start
    NULL.  The file is read with the prepare-contacts header as a
    declared schema (no inference job; a drifted header fails loudly)."""
    raw = read_csv_declared(spark, contacts_csv, CONTACTS_CSV_COLUMNS)
    base = raw.select(
        F.when(F.col("nhs_number") != "", F.col("nhs_number")).alias("nhs_number"),
        "first_name",
        "surname",
    )
    with_ids = assign_surrogate_ids(base, ["nhs_number", "surname"], "id", 0)
    return with_ids.select(
        F.col("id").cast("long"),
        "nhs_number",
        "first_name",
        "surname",
        F.lit(None).cast(StringType()).alias("additional_info"),
        F.lit(None).cast(StringType()).alias("delivery_details"),
        F.lit(None).cast(StringType()).alias("dietary_details"),
        F.lit(None).cast(BooleanType()).alias("has_covid_symptoms"),
    )


def import_outputs(
    spark: SparkSession, db_dir: str, staging_dir: str
) -> dict[str, DataFrame]:
    """The new versions of the ``contacts``, ``needs`` and ``notes``
    tables (``README.md:64-101``), built from the parquet database
    directory and the staging CSVs:

      1. load staging CSVs into typed frames (tmp tables), each checked
         against its staging-contract header;
         the three needs files (food/callback/remaining) union into
         tmp_identified_needs exactly like the three ``\\COPY`` calls;
      2. triage needs + notes via the RETURNING pipeline; ids start
         after the table's max id, or at 1 when the table does not
         exist yet;
      3. identified needs INSERT…SELECT, ids continuing after the
         triage needs (offset = start + inserted triage rows);
      4. contact profile UPDATE…FROM.
    """
    import os
    from os.path import join

    contacts = spark.read.parquet(join(db_dir, "contacts.parquet"))

    def load_or_empty(name: str, schema: StructType) -> tuple[DataFrame, int]:
        p = join(db_dir, f"{name}.parquet")
        if os.path.exists(p):
            df = spark.read.parquet(p)
            return df, _max_id(df)
        # a typed empty frame the optimizer drops from every union
        # (``limit(0)``): no task scans it, while the union still takes
        # the table's column types
        empty = spark.range(1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        return empty.limit(0), 0

    needs, needs_max = load_or_empty("needs", NEEDS_SCHEMA)
    notes, notes_max = load_or_empty("notes", NOTES_SCHEMA)

    tmp_triage = read_staging(
        spark, staging_dir, "original_triage_needs", "original_triage_needs"
    )
    tmp_notes = read_staging(
        spark, staging_dir, "original_triage_notes", "original_triage_notes"
    )
    ident_parts = [
        read_staging(spark, staging_dir, name, "identified_needs")
        for name in ("food_needs", "callback_needs", "remaining_needs")
    ]
    tmp_ident = ident_parts[0]
    for df in ident_parts[1:]:
        tmp_ident = tmp_ident.unionByName(df)
    tmp_updates = read_staging(
        spark, staging_dir, "contact_profile_updates", "contact_profile_updates"
    )

    res = import_original_triage_needs_and_notes(
        contacts, needs, notes, tmp_triage, tmp_notes, needs_max, notes_max
    )
    needs2 = import_identified_needs(
        contacts, res.needs, tmp_ident, res.needs_max_id
    )
    contacts2 = import_contact_profile_updates(contacts, tmp_updates)
    return {"contacts": contacts2, "needs": needs2, "notes": res.notes}


def run_import(spark: SparkSession, db_dir: str, staging_dir: str) -> dict[str, int]:
    """Execute the full import workflow against a parquet database
    directory: build the new table versions (:func:`import_outputs`),
    write all three at once, then swap them in.

    The writes run concurrently, one thread per table, each to
    ``{name}.parquet.new`` (Spark cannot overwrite an input path it is
    lazily reading); their jobs share the cores.  The swap is
    all-or-nothing: it starts only after every write has finished, and
    if any write fails (e.g. a staging header that breaks its contract)
    the others are waited for, every ``*.new`` directory is removed and
    the database is left exactly as it was.

    Returns row counts per table, observed on each write
    (``DataFrame.observe``).
    """
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor
    from os.path import join

    outputs = import_outputs(spark, db_dir, staging_dir)

    def write(name: str, df: DataFrame) -> int:
        rows = Observation()
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(join(db_dir, f"{name}.parquet.new"))
        return rows.get["n"]

    try:
        # leaving the block waits for every write, failed or not
        with ThreadPoolExecutor(max_workers=len(outputs)) as pool:
            written = {
                name: pool.submit(write, name, df) for name, df in outputs.items()
            }
        counts = {name: w.result() for name, w in written.items()}
    except Exception:
        for name in outputs:
            shutil.rmtree(join(db_dir, f"{name}.parquet.new"), ignore_errors=True)
        raise
    for name in outputs:
        final = join(db_dir, f"{name}.parquet")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(join(db_dir, f"{name}.parquet.new"), final)
    return counts


def import_contact_profile_updates(
    contacts: DataFrame, tmp_updates: DataFrame
) -> DataFrame:
    """``import_contact_profile_updates.sql:1-7`` — UPDATE…FROM with
    per-column COALESCE, as join-coalesce-overwrite.  The staging side is
    first-wins deduplicated (Postgres picks an arbitrary match on 1:N;
    the engine pins first-by-input-order when __source_row is present,
    else lexicographic)."""
    order: list[str | Column] = (
        ["__source_row"] if "__source_row" in tmp_updates.columns else PROFILE_COLS
    )
    staging = tmp_updates.select(
        "nhs_number",
        *PROFILE_COLS,
        *(["__source_row"] if "__source_row" in tmp_updates.columns else []),
    )
    return update_from(contacts, staging, "nhs_number", PROFILE_COLS, order)
