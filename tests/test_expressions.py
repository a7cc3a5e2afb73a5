"""Unit tests for the scalar-expression library (SURVEY §2.7 X1–X23),
including the reference's documented quirks (error-as-null, blank-vs-null
bridging, two-format embedded dates)."""

from __future__ import annotations

import datetime
import string

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from beacon_data_importer_spark.functions import expressions as E
from beacon_data_importer_spark.plans.calls import _call_note_category_and_count
from beacon_data_importer_spark.plans.import_stage import parse_staging_bool


def one(df, colexpr):
    return df.select(colexpr.alias("v")).collect()[0].v


def col_of(spark, values, name="c"):
    return spark.createDataFrame([Row(**{name: v}) for v in values])


def test_parse_date_dmy_valid_and_null_on_error(spark):
    df = col_of(spark, ["31/01/1980", "31/13/1980", "", "garbage"])
    out = [r.v for r in df.select(E.parse_date_dmy("c").alias("v")).collect()]
    assert out == [datetime.date(1980, 1, 31), None, None, None]


def test_parse_embedded_date_two_formats(spark):
    df = col_of(
        spark,
        [
            "call back 07/03/2021 please",
            "ring 07.03.21",
            "no date here",
            "maybe 99/99/9999",
        ],
    )
    out = [r.v for r in df.select(E.parse_embedded_date("c").alias("v")).collect()]
    assert out[0] == datetime.date(2021, 3, 7)
    assert out[1] == datetime.date(2021, 3, 7)
    assert out[2] is None
    assert out[3] is None


def test_parse_food_priority(spark):
    df = col_of(spark, ["Priority 1", "priority 3", "urgent", ""])
    out = [r.v for r in df.select(E.parse_food_priority("c").alias("v")).collect()]
    assert out == ["1", "3", None, None]


def test_parse_yes_no_tristate(spark):
    df = col_of(spark, ["Yes", " no ", "maybe", ""])
    out = [r.v for r in df.select(E.parse_yes_no("c").alias("v")).collect()]
    assert out == [True, False, None, None]


def test_concat_address_skips_blanks(spark):
    df = spark.createDataFrame([Row(a="1 High St", b="", c="Leeds")])
    v = one(df, E.concat_address([F.col("a"), F.col("b"), F.col("c")]))
    assert v == "1 High St, Leeds"


def test_compose_body_labels_and_prefix(spark):
    df = spark.createDataFrame([Row(a=" val ", b="  ")])
    v = one(
        df,
        E.compose_body(
            [("A", F.col("a")), ("B", F.col("b"))], prefix_lines=["[Import]"]
        ),
    )
    assert v == "[Import]\nA: val"


def test_nullify_no(spark):
    df = col_of(spark, ["No", " NO ", "gluten free", ""])
    out = [r.v for r in df.select(E.nullify_no("c").alias("v")).collect()]
    assert out == [None, None, "gluten free", None]


def test_json_provenance_shape(spark):
    df = spark.createDataFrame([Row(a="x", b="y")])
    v = one(df, E.json_provenance(["a", "b"]))
    assert v == '{"a":"x","b":"y"}'


def test_callback_start_date_fallback(spark):
    df = spark.createDataFrame(
        [
            Row(cb=datetime.date(2020, 5, 1), latest=datetime.date(2020, 4, 1)),
            Row(cb=None, latest=datetime.date(2020, 4, 1)),
        ]
    )
    out = [
        r.v for r in df.select(E.callback_start_date("cb", "latest").alias("v")).collect()
    ]
    assert out == [datetime.date(2020, 5, 1), datetime.date(2020, 4, 7)]


def test_determine_completion(spark):
    df = spark.createDataFrame(
        [
            Row(s="Yes", d=datetime.date(2020, 4, 1)),
            Row(s="no 3 attempts made", d=datetime.date(2020, 4, 2)),
            Row(s="no 1 attempt made", d=datetime.date(2020, 4, 3)),
        ]
    )
    out = [
        r.v
        for r in df.select(
            E.determine_completion("s", ["yes", "no 3 attempts made"], "d").alias("v")
        ).collect()
    ]
    assert out == [datetime.date(2020, 4, 1), datetime.date(2020, 4, 2), None]


def test_portable_hash64_matches_python(spark):
    import hashlib

    df = col_of(spark, ["hello world"])
    v = one(df, E.portable_hash64("c", seed=7))
    expect = int(hashlib.md5(b"7|hello world").hexdigest()[:15], 16)
    assert v == expect


def test_string_agg_deterministic(spark):
    df = spark.createDataFrame([Row(k=1, v="b"), Row(k=1, v="a"), Row(k=1, v="c")])
    out = df.groupBy("k").agg(E.string_agg("v").alias("s")).collect()[0].s
    assert out == "a, b, c"


# ---------------------------------------------------------------------------
# the ASCII case fold: every folded helper equals its F.lower form
# ---------------------------------------------------------------------------

#: code points whose case mappings are not ASCII to ASCII: dotted and
#: dotless i, the Kelvin sign, both sharp s, upper and final sigma, long
#: s, e acute
_ADVERSARIAL = "İı\u212aßẞΣςſé"
_LOOKALIKES = {"i": "İı", "k": "\u212a", "s": "ſßẞΣς", "e": "é"}
#: the literals the folded helpers compare with
_LITERALS = [
    "yes",
    "no",
    "true",
    "false",
    "priority 1",
    "no -1 attempt made",
    "invalid phone numbers",
    "no 2 attempts made",
    "no 3 attempts made",
]
_COMPLETED = ["yes", "no 3 attempts made"]


def _near(literal: str):
    """The literal with each letter in either case or a look-alike."""
    return st.tuples(
        *[st.sampled_from([ch, ch.upper(), *_LOOKALIKES.get(ch, "")]) for ch in literal]
    ).map("".join)


_fold_values = st.lists(
    st.one_of(
        st.text(
            alphabet=string.ascii_letters + string.digits + " " + _ADVERSARIAL,
            max_size=12,
        ),
        st.tuples(
            st.sampled_from(["", " "]),
            st.sampled_from(_LITERALS).flatmap(_near),
            st.sampled_from(["", " "]),
        ).map("".join),
    ),
    min_size=1,
    max_size=60,
)


def _where_lower_is_ascii(fold):
    return lambda c: F.when(F.lower(c).rlike("^[\\x00-\\x7f]*$"), fold(c))


#: (folded helper, its F.lower form)
_FOLDED = {
    # the contract: equal wherever lower() gives an all-ASCII string
    "ascii_lower": (
        _where_lower_is_ascii(E.ascii_lower),
        _where_lower_is_ascii(F.lower),
    ),
    "ascii_lower_of_lower": (lambda c: E.ascii_lower(F.lower(c)), F.lower),
    "nullify_no": (
        E.nullify_no,
        lambda c: F.when((F.lower(F.trim(c)) != "no") & (F.trim(c) != ""), c),
    ),
    "parse_food_priority": (
        E.parse_food_priority,
        lambda c: E.regex_extract_or_null(F.lower(c), r"priority (\d)", 1),
    ),
    "parse_yes_no": (
        E.parse_yes_no,
        lambda c: F.when(F.lower(F.trim(c)) == "yes", F.lit(True)).when(
            F.lower(F.trim(c)) == "no", F.lit(False)
        ),
    ),
    "determine_completion": (
        lambda c: E.determine_completion(c, _COMPLETED, F.lit(1)),
        lambda c: F.when(F.lower(c).isin(*_COMPLETED), F.lit(1)),
    ),
    "parse_staging_bool": (
        parse_staging_bool,
        lambda c: F.when(F.lower(c) == "true", F.lit(True)).when(
            F.lower(c) == "false", F.lit(False)
        ),
    ),
}


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_fold_values)
@example(
    [*_ADVERSARIAL, "\u212a9", " YES ", "No", "TRUE", "fAlSe", "PRİORITY 1", "No 3 attempts MADE"]
)
def test_ascii_fold_equals_lower(spark, values):
    """Each helper that folds with ``ascii_lower`` returns exactly the
    column its ``F.lower`` form returns, on strings built to break an
    ASCII-only fold.  The call-note category reads its column itself, so
    its ``F.lower`` form is the same expression over pre-lowered input
    (the fold of a lowered string is that string: the
    ``ascii_lower_of_lower`` case)."""
    df = spark.createDataFrame(
        [Row(s=v, outcome="Left voicemail") for v in values],
        "s string, outcome string",
    )
    category, count = _call_note_category_and_count()
    names = [*_FOLDED, "note_category", "note_count"]

    def rows(form: int, was_contact_made):
        cols = [pair[form](F.col("s")).alias(n) for n, pair in _FOLDED.items()]
        return (
            df.withColumn("was_contact_made", was_contact_made)
            .select("s", *cols, category.alias("note_category"), count.alias("note_count"))
            .collect()
        )

    got, want = rows(0, F.col("s")), rows(1, F.lower("s"))
    for g, w in zip(got, want):
        diff = [n for n in names if g[n] != w[n]]
        assert not diff, f"{g.s!r}: {diff}"


def test_case_folded_comparison_rejects_non_ascii_literal(spark):
    """The fold equals ``lower`` only against ASCII literals, so a
    non-ASCII one is refused instead of silently never matching."""
    with pytest.raises(ValueError, match="ASCII"):
        E.determine_completion("s", ["yes", "sí"], "d")
    # an exact (case-sensitive) comparison takes any literal
    df = col_of(spark, ["sí", "SÍ"], name="s").withColumn("d", F.lit(1))
    got = [r.v for r in df.select(
        E.determine_completion("s", ["sí"], "d", case_insensitive=False).alias("v")
    ).collect()]
    assert got == [1, None]
