"""The scalar-expression library: every row-level helper of the reference
(SURVEY §2.7 X1–X23) compiled to a native Spark ``Column`` expression.

Design rule: **zero Python UDFs**.  Each petl row-callable becomes a pure
Column builder, so the whole reference surface stays inside whole-stage
codegen (JVM, vectorized) — this is what makes the semantics viable at
100 TB where the reference ran single-threaded CPython.

Reference citations are to ``/root/reference/`` (petl source of the
semantics; the implementations here are Spark-native, not translations).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# ASCII case fold (the reference's ``str.lower()`` comparisons)
# ---------------------------------------------------------------------------

#: A–Z plus the Kelvin sign U+212A, the one non-ASCII code point whose
#: lower case is ASCII ('k'); every other non-ASCII letter lowers to a
#: string that is not all ASCII (Spark's ``lower('İ')`` is 'i̇': 'i'
#: and a combining dot).
_FOLD_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ\u212a"
_FOLD_TO = "abcdefghijklmnopqrstuvwxyzk"


def ascii_lower(c: Column | str) -> Column:
    """``lower(c)`` for comparison against ASCII literals: ``=`` and
    ``isin`` against ASCII strings give exactly what they give on
    ``F.lower(c)``, since a value lowers to an all-ASCII string only if
    it is made of ASCII characters and Kelvin signs, where the two folds
    agree.

    A ``translate``, not ``lower``: the first ``lower``/``upper``/
    ``initcap`` a JVM evaluates builds Spark's ICU case tables, ~1.5 s
    on one core, which every CLI process would pay."""
    return F.translate(_col(c), _FOLD_FROM, _FOLD_TO)


def _require_ascii(literals: Iterable[str]) -> None:
    """``ascii_lower``'s contract: what it is compared with is ASCII."""
    bad = [v for v in literals if not v.isascii()]
    if bad:
        raise ValueError(
            f"case-folded comparison needs ASCII literals, got {bad!r}"
        )


# ---------------------------------------------------------------------------
# nullability / empty-string bridging (SURVEY §4.3.4)
# ---------------------------------------------------------------------------

def blank_to_null(c: Column | str) -> Column:
    """'' → NULL (petl empty-cell → SQL missing).  The inverse of the CSV
    scan layer's NULL → '' normalization; applied at expression sites that
    need SQL null semantics (concat_ws skipping, coalesce)."""
    c = _col(c)
    return F.when(c != "", c)


def nullify_no(c: Column | str) -> Column:
    """Pass the value through unless it strips and ASCII-folds to 'no'
    (→ NULL) or is blank.  X8 — dietary details
    (``prepare_calls.py:228-230``)."""
    c = _col(c)
    t = F.trim(c)
    return F.when((ascii_lower(t) != "no") & (t != ""), c)


# ---------------------------------------------------------------------------
# provenance / JSON (X1, X13)
# ---------------------------------------------------------------------------

def json_provenance(cols: Sequence[Column | str]) -> Column:
    """Serialize selected source fields as a JSON object string — the
    ``serialize_row`` provenance record (X1, ``helpers.py:4-5``).  Native
    ``to_json(struct(...))``; key order = given column order."""
    return F.to_json(F.struct(*[_col(c) for c in cols]))


# ---------------------------------------------------------------------------
# date parsing with error-as-null (X2, X11, X14; petl failonerror=False)
# ---------------------------------------------------------------------------

def parse_date_dmy(c: Column | str) -> Column:
    """'%d/%m/%Y' → DATE; malformed → NULL (X2, ``helpers.py:8-11``).
    Requires the session's non-ANSI mode (session.py) so ``to_date``
    yields null instead of raising."""
    return F.to_date(_col(c), "d/M/yyyy")


def parse_embedded_date(c: Column | str) -> Column:
    """X14 (``prepare_calls.py:292-306``): regex-extract the first
    ``d+[/.]d+[/.]d+`` run from free text, then try '%d/%m/%Y' else
    '%d.%m.%y'; anything else → NULL."""
    extracted = F.regexp_extract(_col(c), r"(\d+[/\.]\d+[/\.]\d+)", 1)
    extracted = F.when(extracted != "", extracted)  # no-match '' → NULL
    return F.coalesce(
        F.to_date(extracted, "d/M/yyyy"),
        F.to_date(extracted, "d.M.yy"),
    )


def regex_extract_or_null(c: Column | str, pattern: str, group: int = 1) -> Column:
    """``regexp_extract`` with petl-convert semantics: no match → NULL
    (Spark returns '' on no-match; petl's failing ``.group()`` → None)."""
    x = F.regexp_extract(_col(c), pattern, group)
    return F.when(x != "", x)


def parse_food_priority(c: Column | str) -> Column:
    """X11 (``prepare_calls.py:276-278``): case-insensitive
    ``priority (\\d)`` → the digit as a string; no match → NULL.  The
    ASCII fold finds the same match as ``lower``: the two differ only
    at non-ASCII characters, which the pattern cannot match (``\\d`` is
    ASCII-only), and the one ASCII letter ``lower`` makes from one
    ('i' of 'İ') is followed by a combining dot, never by the 'o' or 't'
    that follows each 'i' of the pattern."""
    return regex_extract_or_null(ascii_lower(c), r"priority (\d)", 1)


# ---------------------------------------------------------------------------
# string composition (X3–X7)
# ---------------------------------------------------------------------------

def concat_address(parts: Sequence[Column | str], sep: str = ", ") -> Column:
    """X3 (``prepare_contacts.py:47-52``): join the non-empty address
    parts with ', '.  ``concat_ws`` skips NULLs, so blanks are nulled
    first."""
    return F.concat_ws(sep, *[blank_to_null(p) for p in parts])


def py_strip(c: Column | str) -> Column:
    """Python ``str.strip()`` parity: removes ALL leading/trailing
    whitespace (Spark ``trim`` only removes spaces)."""
    return F.regexp_replace(_col(c).cast("string"), r"^\s+|\s+$", "")


def labeled_pieces(labeled: Iterable[tuple[str, Column | str]]) -> list[Column]:
    """The per-field pieces of compose_body: ``"{label}: {stripped}"``
    when the stripped value is non-empty, else NULL (skipped by
    concat_ws).  Exposed so callers can mix in conditional prefix lines
    as extra Column pieces (e.g. the closed-food-need message,
    ``prepare_calls.py:214-218``)."""
    out: list[Column] = []
    for label, c in labeled:
        t = py_strip(c)
        out.append(F.when(t != "", F.concat(F.lit(f"{label}: "), t)))
    return out


def compose_body(
    labeled: Iterable[tuple[str, Column | str]],
    prefix_lines: Sequence[str] = (),
    prefix_cols: Sequence[Column] = (),
) -> Column:
    """X4 (``prepare_calls.py:193-201``): for each (label, col) emit
    ``"{label}: {stripped value}"`` when the stripped value is non-empty;
    newline-join, with optional prefix lines (literal or conditional
    Column pieces — NULL prefixes are skipped)."""
    pieces: list[Column] = [F.lit(p) for p in prefix_lines]
    pieces.extend(prefix_cols)
    pieces.extend(labeled_pieces(labeled))
    return F.concat_ws("\n", *pieces)


# ---------------------------------------------------------------------------
# tri-state / completion logic (X9, X10, X12, X15, X16)
# ---------------------------------------------------------------------------

def parse_yes_no(c: Column | str) -> Column:
    """X10 (``prepare_calls.py:239-246``): strip + ASCII fold; 'yes' →
    true, 'no' → false, anything else → NULL (3-valued boolean)."""
    t = ascii_lower(F.trim(_col(c)))
    return F.when(t == "yes", F.lit(True)).when(t == "no", F.lit(False))


def determine_completion(
    status: Column | str,
    completed_values: Sequence[str],
    date: Column | str,
    case_insensitive: bool = True,
) -> Column:
    """X9/X12 (``prepare_calls.py:235-237,280-281``): completion date =
    ``date`` iff the (ASCII-folded) status is in ``completed_values``.
    Case-insensitive matching needs ASCII ``completed_values``
    (``ValueError`` otherwise)."""
    s = _col(status)
    if case_insensitive:
        _require_ascii(completed_values)
        s = ascii_lower(s)
    return F.when(s.isin(*completed_values), _col(date))


def callback_start_date(callback: Column | str, latest_attempt: Column | str) -> Column:
    """X15 (``prepare_calls.py:338-340``): the callback date if present,
    else latest_attempt + 6 days."""
    return F.coalesce(_col(callback), F.date_add(_col(latest_attempt), 6))


# ---------------------------------------------------------------------------
# grouped string aggregation (X18)
# ---------------------------------------------------------------------------

def string_agg(c: Column | str, sep: str = ", ") -> Column:
    """Deterministic string_agg: collect → sort → join.  The reference's
    ``', '.join(...)`` over lookup lists (X18, ``prepare_calls.py:354-358``)
    had source order; Spark has no implicit row order, so the engine
    pins lexicographic order (the oracle uses ``ORDER BY`` to match)."""
    return F.array_join(F.array_sort(F.collect_list(_col(c))), sep)


# ---------------------------------------------------------------------------
# engine-portable 64-bit hashing (extension ops: dedup / fingerprints)
# ---------------------------------------------------------------------------

def portable_hash64(c: Column | str, seed: int = 0) -> Column:
    """Deterministic 60-bit integer hash computable identically in Spark
    and ANSI SQL engines: first 15 hex digits of md5(seed || value) parsed
    base-16.  Used by minhash/simhash/fingerprint operators so the DuckDB
    oracle can reproduce signatures exactly (Spark's xxhash64 is not
    portable).  md5 is a JVM intrinsic here — no Python involved."""
    payload = F.concat(F.lit(f"{seed}|"), _col(c))
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# banded edit distance (entity-resolution extension ops)
# ---------------------------------------------------------------------------

def bounded_levenshtein(
    a: Column | str, b: Column | str, k: int, probe_prefix: int = 8
) -> Column:
    """Edit distance banded at ``k`` (returns -1 past the band, exact
    distance within it) with a common-prefix fast path: when the first
    ``probe_prefix`` characters agree, ``lev(a, b) == lev(a[p:], b[p:])``
    (prefix-trim property of edit distance), so the banded DP runs on
    strings shorter by ``probe_prefix``.  On id-like name columns that
    share long constant prefixes this roughly halves the DP work —
    measured 10.0s → 5.9s over the 2.25M-pair nation-blocked candidate
    stream at sf0.1 — and is exact for arbitrary inputs (the conditional
    falls back to the full-string DP when the probe prefixes differ)."""
    ca, cb = _col(a), _col(b)
    rest = 2147483647  # substring to end-of-string
    trimmed = F.levenshtein(
        F.substring(ca, probe_prefix + 1, rest),
        F.substring(cb, probe_prefix + 1, rest),
        k,
    )
    same_prefix = F.substring(ca, 1, probe_prefix) == F.substring(cb, 1, probe_prefix)
    return F.when(same_prefix, trimmed).otherwise(F.levenshtein(ca, cb, k))
