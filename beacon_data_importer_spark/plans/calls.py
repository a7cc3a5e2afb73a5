"""The call-log pipeline — Spark plans with the semantics of the
reference's ``prepare-calls`` command (``prepare_calls.py:20-191``).

One shared base frame, materialized once before any output is built
(the direct fix for the reference's ~12× CSV re-parse,
``prepare_calls.py:145-156,176-191``), nine derived frames, and a QA
frame computed as ONE ``groupBy(nhs_number)`` over the base — every
first-wins and multi-valued lookup of the reference's five driver-memory
hash maps is an aggregate of that group — joined back by broadcast.

Faithfully reproduced quirks (SURVEY §7.6.5):
  * the ``support_already_geting`` typo silently drops that field from
    additional_info (``prepare_calls.py:221``);
  * ``book_weekly_food_delivery == True`` is a dead branch (string
    compared to Python True, ``prepare_calls.py:316``) — omitted as dead,
    flagged here;
  * trailing-space literals ``'Food referral '`` / ``'Call back '``
    (``prepare_calls.py:310,317``);
  * rows whose ``was_contact_made`` matches no branch produce ZERO note
    rows (petl swallows the generator's UnboundLocalError, G2).

First-wins QA lookups need an explicit order (petl used source order;
Spark has none) — the base frame carries ``__source_row`` assigned from
CSV file order via zipWithIndex.

100 TB posture: everything below is filters/projections/explode (narrow)
plus the one QA aggregate (a key shuffle; its result, one row per
contact, is broadcast back — per-import batches are bounded).
``localCheckpoint`` replaces re-parse; at warehouse scale the base
would be a written staging table.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config.calls_schema import FIELDS, LABELED_FIELDS, LOGICAL_NAMES
from ..functions import expressions as E
from ..operators.flatmap import explode_counted
from ..sources.csv import col_exact, read_csv_stringly

MSG_ORIGINAL_TRIAGE_NEED = "[Import]: Imported from call log spreadsheet"
MSG_CALL_LOG_NOTE = "[Import]: Imported call log"
MSG_GENERIC_NEED = "[Import]: Need created automatically from imported call log"
MSG_CALLBACK_NEED = (
    "[Import]: Callback need created automatically because the imported "
    "call log had a food need or callback date specified"
)
MSG_CLOSED_FOOD_NEED = (
    "[Import]: Marked completed because priority 1 and 2 food needs were "
    "all met by the time the call log was imported"
)
MSG_OTHER_NEED = (
    '[Import]: Need created automatically because the imported call log '
    'had an "Other referral" or filled in "Additional support"'
)

NEEDS_FIELDS = ["nhs_number", "category", "name", "created_at", "updated_at"]
NOTES_FIELDS = ["nhs_number", "category", "body", "created_at", "updated_at"]

#: the derived frames concatenated into remaining_needs, in output order
REMAINING_NEEDS = (
    "prescription_needs",
    "mental_wellbeing_needs",
    "financial_needs",
    "other_needs",
)

#: The staging contract: each prepare-calls output CSV (by file stem) and
#: its ordered header.  The writer projects every output onto it and
#: ``import_stage.read_staging`` reads the files back with it as a
#: declared schema, so a drifted header fails the import loudly.
STAGING_COLUMNS: dict[str, list[str]] = {
    "quality_assurance": [
        "nhs_number",
        "latest_attempt_date",
        "original_triage_status",
        "original_triage_call_notes",
        "food_need",
        "callback_need",
        "remaining_needs",
        "call_log",
    ],
    "contact_profile_updates": [
        "nhs_number",
        "additional_info",
        "delivery_details",
        "dietary_details",
        "has_covid_symptoms",
    ],
    "original_triage_needs": [*NEEDS_FIELDS, "completed_on"],
    "original_triage_notes": [*NOTES_FIELDS, "import_data"],
    "food_needs": [*NEEDS_FIELDS, "completed_on", "supplemental_data", "user_id"],
    "callback_needs": [*NEEDS_FIELDS, "start_on"],
    "remaining_needs": [*NEEDS_FIELDS, "user_id"],
}

ROW = "__source_row"


@dataclass(frozen=True)
class CallsUsers:
    """The four CLI user-id parameters (``prepare_calls.py:24-27``) —
    query parameters bound as literals at plan-build time."""

    food_needs_user: int
    complex_needs_user: int
    simple_needs_user: int
    call_log_review_user: int


def _with_source_row(df: DataFrame) -> DataFrame:
    """Attach the CSV file-order row index (petl's implicit order, made
    explicit; SURVEY §4.3.5) — entirely JVM-side.

    ``_metadata.row_index`` is parquet-only, so the index is rebuilt
    from what the CSV scan does expose: ``(_metadata.file_path,
    _metadata.file_block_start)`` identifies each scan split in byte
    order, and ``monotonically_increasing_id()`` is a contiguous
    counter within a scan partition (and therefore within each split,
    since splits never straddle partitions).  Global file order is then
    ``block offset + (mid − min(mid within block))`` where block
    offsets are a prefix sum over ``(file, block_start)``.

    Cost/scale: one groupBy whose result is one row per scan split
    (~8k rows per TB at 128 MB splits) + a broadcast join back; the
    prefix-sum window runs over that tiny split table only.  This
    replaces the round-3 ``df.rdd.zipWithIndex()`` JVM→Python→JVM
    round-trip over every row (VERDICT r3 "What's wrong" #2), and —
    unlike zipWithIndex — stays correct when Spark's bin-packing
    orders splits by size rather than by file offset."""
    base = df.select(
        "*",
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.file_block_start").alias("__bs"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    blocks = base.groupBy("__f", "__bs").agg(
        F.min("__mid").alias("__mid0"), F.count(F.lit(1)).alias("__n")
    )
    w = (
        Window.orderBy("__f", "__bs")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = blocks.select(
        "__f",
        "__bs",
        "__mid0",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off"),
    )
    return (
        base.join(F.broadcast(offsets), ["__f", "__bs"])
        .withColumn(ROW, (F.col("__off") + F.col("__mid") - F.col("__mid0")).cast("long"))
        .drop("__f", "__bs", "__mid", "__mid0", "__off")
    )


class CallsHeaderError(ValueError):
    """The calls CSV is missing expected original headers (several carry
    byte-significant trailing spaces — SURVEY §1.3); raised instead of
    letting the rename select die with a raw AnalysisException."""


def validate_calls_header(df: DataFrame) -> None:
    missing = [orig for _, orig, _ in FIELDS if orig not in df.columns]
    if missing:
        shown = ", ".join(repr(m) for m in missing[:5])
        more = f" (+{len(missing) - 5} more)" if len(missing) > 5 else ""
        raise CallsHeaderError(
            f"calls CSV is missing {len(missing)} expected header(s): "
            f"{shown}{more}.  Headers must match the source spreadsheet "
            "byte-for-byte (several have trailing spaces) and the file "
            "must be windows-1252 encoded."
        )


def base_spreadsheet(
    spark: SparkSession, calls_file_path: str, compose: BodyComposer | None = None
) -> DataFrame:
    """The shared base plan (``prepare_calls.py:33-41``): windows-1252
    scan → rename → non-empty-date filter → provenance JSON (over RAW
    values — serialization happens before date conversion) → date parse →
    created/updated stamps, plus ``call_log``: the row's labeled body
    (``prepare_calls.py:193-201``), shared by the import notes, the QA
    frame and the remaining-need names.

    Materialized eagerly (``localCheckpoint``) before it is returned, so
    the scan, the source-row numbering and the body run once, up front:
    a lazy ``cache()`` would instead be filled by whichever output is
    written first, while that output's other jobs re-read the CSV."""
    df = read_csv_stringly(spark, calls_file_path, encoding="windows-1252")
    validate_calls_header(df)
    # rename via aliasing select: the original headers contain dots/colons
    # that name-parsing APIs (withColumnsRenamed/F.col) misread; df[...]
    # resolves exact names.  Also pins the 29-column order.
    df = df.select(
        *[col_exact(orig).alias(logical) for logical, orig, _ in FIELDS]
    )
    df = _with_source_row(df)
    df = df.filter(F.col("latest_attempt_date") != "")  # F1: raw truthiness
    df = df.withColumn("import_data", E.json_provenance(list(LOGICAL_NAMES)))
    df = df.withColumn(
        "latest_attempt_date", E.parse_date_dmy("latest_attempt_date")
    )
    df = df.withColumn("created_at", F.col("latest_attempt_date"))
    df = df.withColumn("updated_at", F.col("latest_attempt_date"))
    df = df.withColumn("call_log", (compose or BodyComposer())())
    return df.localCheckpoint()


class BodyComposer:
    """compose_body over the full labeled field list, with per-pipeline
    overrides for converted columns (food_priority, callback_date).

    The 29 labeled pieces are built once per instance and shared by
    every body of one plan build; build one per ``prepare_calls`` call
    (Columns hold JVM handles of their session)."""

    def __init__(self) -> None:
        self.pieces = dict(
            zip(
                (logical for _, logical in LABELED_FIELDS),
                E.labeled_pieces(
                    (label, F.col(logical)) for label, logical in LABELED_FIELDS
                ),
            )
        )

    def __call__(
        self,
        overrides: dict[str, Column] | None = None,
        prefix_lines: Sequence[str] = (),
        prefix_cols: Sequence[Column] = (),
    ) -> Column:
        overrides = overrides or {}
        pieces = [
            E.labeled_pieces([(label, overrides[logical])])[0]
            if logical in overrides
            else self.pieces[logical]
            for label, logical in LABELED_FIELDS
        ]
        # the prebuilt pieces go after the prefixes, exactly where
        # compose_body puts the pieces it builds from labeled fields
        return E.compose_body([], prefix_lines, [*prefix_cols, *pieces])


# ---------------------------------------------------------------------------
# predicates (F3–F5, ``prepare_calls.py:308-336``)
# ---------------------------------------------------------------------------

def _needs_food_raw() -> Column:
    # trailing space in 'Food referral ' is source-data-faithful
    return F.col("outcome").isin("Food referral ", "Food and Other referral") | (
        F.col("food_priority") != ""
    )


def _has_complex_other_need() -> Column:
    return (
        (F.col("addl_adult_social_care") != "")
        | (F.col("addl_children_services") != "")
        | (F.col("addl_safeguarding") != "")
    )


def _has_simple_other_need() -> Column:
    return (
        (F.col("addl_housing_waste") != "")
        | (F.col("addl_medical_appt_transport") != "")
        | (F.col("addl_referrals") != "")
    )


def _has_misc_other_need() -> Column:
    return (F.col("addl_misc_other1") != "") | (F.col("addl_misc_other2") != "")


def _needs_other_support() -> Column:
    return (
        F.col("outcome").isin("Other referral", "Food and Other referral")
        | _has_complex_other_need()
        | _has_simple_other_need()
        | _has_misc_other_need()
    )


# ---------------------------------------------------------------------------
# per-row values shared by the derived frames and QA
# ---------------------------------------------------------------------------

def _triage_completed_on() -> Column:
    return E.determine_completion(
        "was_contact_made", ["yes", "no 3 attempts made"], "latest_attempt_date"
    )


def _call_note_category_and_count() -> tuple[Column, Column]:
    """The call-note generator (``prepare_calls.py:248-274``): each base
    row yields ``count`` notes of ``category``."""
    lwcm = E.ascii_lower("was_contact_made")
    failure_cat = F.when(
        F.col("outcome") == "Left voicemail", "phone_message"
    ).otherwise("phone_failure")
    category = (
        F.when(lwcm == "yes", "phone_success")
        .when(
            lwcm.isin(
                "no -1 attempt made",
                "invalid phone numbers",
                "no 2 attempts made",
                "no 3 attempts made",
            ),
            failure_cat,
        )
    )
    count = (
        F.when(lwcm == "yes", 1)
        .when(lwcm.isin("no -1 attempt made", "invalid phone numbers"), 1)
        .when(lwcm == "no 2 attempts made", 2)
        .when(lwcm == "no 3 attempts made", 3)
        .otherwise(0)  # G2: unmatched rows yield zero note rows
    )
    return category, count


def _food_completed_on(priority: Column) -> Column:
    return F.when(priority.isin("1", "2"), F.col("latest_attempt_date"))


def _needs_callback(callback_date: Column) -> Column:
    # the reference's `book_weekly_food_delivery == True` disjunct is dead
    # (string vs Python True) and is reproduced as dead
    return (
        callback_date.isNotNull()
        | _needs_food_raw()
        | (F.col("outcome") == "Call back ")  # trailing space faithful
    )


def _callback_start_on(callback_date: Column) -> Column:
    return F.coalesce(callback_date, F.date_add(F.col("latest_attempt_date"), 6))


def _remaining_pipelines(users: CallsUsers) -> list[tuple[str, Column, str, Column]]:
    """The ``REMAINING_NEEDS`` pipelines in output order
    (``prepare_calls.py:92-129,342-348``): (frame key, row predicate,
    category, user id)."""
    other_user = (
        F.when(_has_complex_other_need(), users.complex_needs_user)
        .when(_has_simple_other_need(), users.simple_needs_user)
        .otherwise(users.call_log_review_user)
    )
    pipelines = [
        (
            F.col("addl_medication_prescriptions") != "",
            "prescription pickups",
            F.lit(users.simple_needs_user),
        ),
        (
            F.col("addl_mental_wellbeing") != "",
            "physical and mental wellbeing",
            F.lit(users.complex_needs_user),
        ),
        (
            F.col("addl_financial") != "",
            "financial support",
            F.lit(users.complex_needs_user),
        ),
        (_needs_other_support(), "other", other_user),
    ]
    return [(key, *p) for key, p in zip(REMAINING_NEEDS, pipelines)]


# ---------------------------------------------------------------------------
# the nine derived frames
# ---------------------------------------------------------------------------

def derive_frames(
    base: DataFrame, users: CallsUsers, compose: BodyComposer
) -> dict[str, DataFrame]:
    """All derived frames of ``base_spreadsheet``'s frame, each still
    carrying __source_row (callers project it away via the staging
    contract)."""
    frames: dict[str, DataFrame] = {}

    # original_triage_needs (``prepare_calls.py:46-52``)
    frames["original_triage_needs"] = base.select(
        ROW,
        *[F.col(c) for c in ("nhs_number", "created_at", "updated_at")],
        F.lit("phone triage").alias("category"),
        F.lit(MSG_ORIGINAL_TRIAGE_NEED).alias("name"),
        _triage_completed_on().alias("completed_on"),
    )

    # original_triage_call_notes via flatMap (``prepare_calls.py:55-61,248-274``)
    category, count = _call_note_category_and_count()
    notes_base = base.select(
        ROW,
        "nhs_number",
        "created_at",
        "updated_at",
        category.alias("category"),
        count.alias("__count"),
    )
    frames["original_triage_call_notes"] = explode_counted(
        notes_base,
        F.col("__count"),
        [ROW, "nhs_number", "created_at", "updated_at", "category"],
        attempt_col="__attempt",
    ).withColumn("body", F.lit(MSG_CALL_LOG_NOTE))

    # original_triage_import_notes (``prepare_calls.py:63-68``)
    frames["original_triage_import_notes"] = base.select(
        ROW,
        "nhs_number",
        "created_at",
        "updated_at",
        F.lit("phone_import").alias("category"),
        F.col("call_log").alias("body"),
        "import_data",
    )

    # food_needs (``prepare_calls.py:70-80``)
    food = base.filter(_needs_food_raw()).withColumn(
        "food_priority", E.parse_food_priority("food_priority")
    )
    supplemental = F.when(
        F.col("food_priority").isNotNull(),
        F.to_json(
            F.struct(
                F.lit("Grocery delivery").alias("food_service_type"),
                F.col("food_priority").alias("food_priority"),
            )
        ),
    ).otherwise(
        F.to_json(F.struct(F.lit("Grocery delivery").alias("food_service_type")))
    )
    food = (
        food.withColumn("supplemental_data", supplemental)
        .withColumn("completed_on", _food_completed_on(F.col("food_priority")))
        .withColumn("user_id", F.lit(users.food_needs_user))
    )
    frames["food_needs"] = food.withColumn(
        "category", F.lit("groceries and cooked meals")
    ).withColumn(
        "name",
        compose(
            overrides={"food_priority": F.col("food_priority")},
            prefix_lines=[MSG_GENERIC_NEED],
            prefix_cols=[
                F.when(F.col("completed_on").isNotNull(), MSG_CLOSED_FOOD_NEED)
            ],
        ),
    )

    # callback_needs (``prepare_calls.py:82-90``)
    cb = base.withColumn("callback_date", E.parse_embedded_date("callback_date"))
    cb = cb.filter(_needs_callback(F.col("callback_date")))
    frames["callback_needs"] = cb.select(
        ROW,
        "nhs_number",
        "created_at",
        "updated_at",
        F.lit("phone triage").alias("category"),
        compose(
            overrides={"callback_date": F.col("callback_date").cast("string")},
            prefix_lines=[MSG_CALLBACK_NEED],
        ).alias("name"),
        _callback_start_on(F.col("callback_date")).alias("start_on"),
    )

    # prescription / mental-wellbeing / financial / other needs
    # (``prepare_calls.py:92-129,342-348``): the row's body under one
    # prefix line (an empty body adds no line, as in compose_body)
    other_body = F.concat_ws(
        "\n",
        F.lit(MSG_OTHER_NEED),
        F.when(F.col("call_log") != "", F.col("call_log")),
    )
    for key, predicate, cat, user in _remaining_pipelines(users):
        frames[key] = base.filter(predicate).select(
            ROW,
            "nhs_number",
            "created_at",
            "updated_at",
            F.lit(cat).alias("category"),
            other_body.alias("name"),
            user.alias("user_id"),
        )

    # contact_profile_updates (``prepare_calls.py:132-143``); the
    # additional_info pluck reproduces the reference's
    # 'support_already_geting' typo — that field is silently excluded.
    frames["contact_profile_updates"] = base.select(
        ROW,
        "nhs_number",
        E.compose_body(
            [
                ("How many people in household", F.col("household_count")),
                ("Notes", F.col("notes")),
            ]
        ).alias("additional_info"),
        E.compose_body(
            [
                ("Delivery contact details", F.col("delivery_contact")),
                ("Any special delivery information", F.col("delivery_special_info")),
            ]
        ).alias("delivery_details"),
        E.nullify_no("dietary_requirements").alias("dietary_details"),
        E.parse_yes_no("has_covid_symptoms").alias("has_covid_symptoms"),
    )

    return frames


# ---------------------------------------------------------------------------
# QA: the reference's five lookup maps (``prepare_calls.py:145-173``) as
# one aggregate over the base, grouped by contact
# ---------------------------------------------------------------------------

def _first(value: Column, where: Column | None = None) -> Column:
    """Aggregate: ``value`` of the group's first row in source order
    (among rows matching ``where``); NULL when no row matches."""
    item = F.struct(F.col(ROW).alias("r"), value.alias("v"))
    if where is not None:
        item = F.when(where, item)
    return F.min(item)["v"]


def _joined_or_null(items: Column, sep: str) -> Column:
    """``sep``-joined strings; NULL for an empty list (the contact had
    no matching rows — the reference's failed dict lookup)."""
    return F.when(F.size(items) > 0, F.array_join(items, sep))


def quality_assurance(base: DataFrame, users: CallsUsers) -> DataFrame:
    """One QA row per base row.  Each lookup of the reference is an
    aggregate of the contact's base rows: first-wins lookups take
    ``min(struct(__source_row, value))``, multi-valued ones collect
    per-row arrays and sort them by source row."""
    priority = E.parse_food_priority("food_priority")
    food_block = F.concat(
        F.lit("Food need created\nPriority: "),
        F.coalesce(priority, F.lit("")),
        F.lit("\nStatus: "),
        F.when(_food_completed_on(priority).isNotNull(), "Completed").otherwise(
            "To do"
        ),
        F.lit(f"\nAssigned to: {users.food_needs_user}"),
    )
    callback_date = E.parse_embedded_date("callback_date")
    callback_block = F.concat(
        F.lit("Callback need created\nStart on: "),
        _callback_start_on(callback_date).cast("string"),
    )
    category, count = _call_note_category_and_count()
    # remaining needs: (pipeline, row, line) per matching pipeline, where
    # line = "{category.title()} (Assigned to {user_id})"
    remaining = F.array_compact(
        F.array(
            *[
                F.when(
                    predicate,
                    F.struct(
                        F.lit(idx).alias("pipe"),
                        F.col(ROW).alias("r"),
                        F.concat(
                            F.lit(f"{cat.title()} (Assigned to "),
                            user.cast("string"),
                            F.lit(")"),
                        ).alias("line"),
                    ),
                )
                for idx, (_, predicate, cat, user) in enumerate(
                    _remaining_pipelines(users)
                )
            ]
        )
    )

    lookups = base.groupBy("nhs_number").agg(
        F.when(_first(_triage_completed_on()).isNotNull(), "Completed")
        .otherwise("To do")
        .alias("original_triage_status"),
        _joined_or_null(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ROW).alias("r"),
                                F.array_repeat(category, count).alias("c"),
                            )
                        )
                    ),
                    lambda x: x["c"],
                )
            ),
            ", ",
        ).alias("original_triage_call_notes"),
        _first(food_block, _needs_food_raw()).alias("food_need"),
        _first(callback_block, _needs_callback(callback_date)).alias(
            "callback_need"
        ),
        _joined_or_null(
            F.transform(
                F.array_sort(F.flatten(F.collect_list(remaining))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("remaining_needs"),
    )
    qa = base.join(F.broadcast(lookups), "nhs_number", "left")
    return qa.select(*STAGING_COLUMNS["quality_assurance"])


# ---------------------------------------------------------------------------
# public outputs (the seven CSVs, ``prepare_calls.py:176-191``)
# ---------------------------------------------------------------------------

def prepare_calls(
    spark: SparkSession, calls_file_path: str, users: CallsUsers
) -> dict[str, DataFrame]:
    """All output frames keyed by their reference CSV name (sans .csv),
    each projected onto its staging contract (``STAGING_COLUMNS``)."""
    compose = BodyComposer()
    base = base_spreadsheet(spark, calls_file_path, compose)
    frames = derive_frames(base, users, compose)

    remaining = None
    for key in REMAINING_NEEDS:
        f = frames[key].select(*STAGING_COLUMNS["remaining_needs"])
        remaining = f if remaining is None else remaining.unionByName(f)

    outputs = {
        "quality_assurance": quality_assurance(base, users),
        "contact_profile_updates": frames["contact_profile_updates"],
        "original_triage_needs": frames["original_triage_needs"],
        # etl.cat(import_notes, call_notes): call notes have no
        # import_data -> padded NULL (U1 semantics)
        "original_triage_notes": frames["original_triage_import_notes"]
        .select(*STAGING_COLUMNS["original_triage_notes"])
        .unionByName(
            frames["original_triage_call_notes"].select(*NOTES_FIELDS),
            allowMissingColumns=True,
        ),
        "food_needs": frames["food_needs"],
        "callback_needs": frames["callback_needs"],
        "remaining_needs": remaining,
    }
    return {name: outputs[name].select(*cols) for name, cols in STAGING_COLUMNS.items()}
