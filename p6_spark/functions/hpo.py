"""HPO cell parsing/normalization as Column expressions.

Mirrors the reference's verbose regex parser (src/P6/mapper.py:336-358):
a cell may be ``HP:0000510``, ``HP:510`` (zero-padded to 7), bare digits
``1636``, ``hp 0100753``, a label+ID combo ``Rod-cone dystrophy
HP:0000510 `` (trailing/non-breaking spaces), or ``Label (HP:510)``.
Output: (label, canonical CURIE). Unparseable cells yield a null CURIE so
the caller can reject the row (P5) — never abort the run.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# label (optional, non-greedy) then optional "(", optional HP prefix with
# optional ":" or space, digits, optional ")".    = non-breaking space.
_HPO_PATTERN = r"^\s*(.*?)[\s ]*\(?(?:[Hh][Pp][:\s]?)?(\d+)\)?[\s ]*$"


def _clean(col: Column) -> Column:
    # normalize non-breaking spaces, then trim
    return F.trim(F.regexp_replace(col.cast("string"), " ", " "))


def hpo_label(col: Column) -> Column:
    """Free-text label preceding the ID (may be empty)."""
    return F.trim(F.regexp_extract(_clean(col), _HPO_PATTERN, 1))


def hpo_digits(col: Column) -> Column:
    return F.regexp_extract(_clean(col), _HPO_PATTERN, 2)


def hpo_curie(col: Column) -> Column:
    """Canonical zero-padded CURIE: ``HP:510`` -> ``HP:0000510``
    (reference src/P6/mapper.py:358). Unparseable -> null."""
    digits = hpo_digits(col)
    return F.when(digits == "", F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("HP:"), F.lpad(digits, 7, "0"))
    )


def parse_hpo_cell(col: Column) -> tuple[Column, Column]:
    """(label, curie) pair for a raw HPO cell."""
    return hpo_label(col), hpo_curie(col)


def is_nad(col: Column) -> Column:
    """NAD placeholder filter (reference src/P6/mapper.py:330-334):
    'no abnormality detected' rows are dropped with a warning. NULL-safe:
    a NULL cell is not NAD (false, never NULL), so it reaches the parse
    audit instead of vanishing from both sides of ``filter(~nad)``."""
    return F.upper(F.trim(col.cast("string"))).eqNullSafe("NAD")
