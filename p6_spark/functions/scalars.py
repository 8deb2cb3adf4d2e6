"""Scalar transformations from the reference, as native Column expressions.

Each function mirrors a row-at-a-time Python helper in the reference
(cited per function) but runs JVM-side under whole-stage codegen — no
Python round trip, so these are safe on the 100 TB hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Vocabulary maps (token -> canonical term) live with the record schemas.
from p6_spark.schemas import INHERITANCE_MAP, ZYGOSITY_MAP  # noqa: F401

# GENO allelic-state CURIEs — reference src/P6/genotype.py:56-64.
GENO_ALLELIC_STATE = {
    "heterozygous": "GENO:0000135",
    "homozygous": "GENO:0000134",
    "compound_heterozygosity": "GENO:0000191",
    "hemizygous": "GENO:0000136",
    "mosaic": "GENO:0000150",
}

_TRUTHY = ("1", "true", "t", "yes", "y")
_FALSY = ("0", "false", "f", "no", "n", "")


def normalize_time_like(col: Column) -> Column:
    """Pseudo-timestamp normalization (reference src/P6/mapper.py:196-216).

    null/blank -> "", numeric -> "T<int>", string -> prefixed with "T"
    unless it already starts with T/t. ``2020`` -> ``T2020``,
    ``20200101`` -> ``T20200101``, ``T0`` -> ``T0``.
    """
    s = F.trim(col.cast("string"))
    as_long = s.try_cast("long")
    return (
        F.when(col.isNull() | (s == ""), F.lit(""))
        .when(as_long.isNotNull(), F.concat(F.lit("T"), as_long.cast("string")))
        .when(F.upper(s).startswith("T"), s)
        .otherwise(F.concat(F.lit("T"), s))
    )


def to_bool(col: Column) -> Column:
    """Bool coercion with truthiness fallback (reference src/P6/mapper.py:218-235).

    Truthy set {1,true,t,yes,y}, falsy set {0,false,f,no,n,""}; anything
    else falls back to Python truthiness (non-empty => True). Real
    workbooks rely on the fallback: "O"/"E" and "Phased"/"Unphased" are
    all True.

    Null -> True, matching what the reference actually does to a missing
    workbook cell: pandas hands ``_to_bool`` ``float('nan')``, whose str
    form "nan" is in neither set, so it falls through to
    ``bool(float('nan'))`` — and NaN is truthy in Python. (The
    reference's explicit ``None -> False`` branch never fires on the
    workbook path; pandas missing cells are NaN, not None.)
    """
    s = F.lower(F.trim(col.cast("string")))
    return (
        F.when(col.isNull(), F.lit(True))
        .when(s.isin(*_TRUTHY), F.lit(True))
        .when(s.isin(*_FALSY), F.lit(False))
        .otherwise(F.length(s) > 0)
    )


def email_or_default(col: Column, default: str = "unknown@example.com") -> Column:
    """Missing contact email -> fixed default (reference src/P6/mapper.py:272-276).

    Only a genuinely missing cell (pd.isna == Spark null) gets the
    default; the reference keeps ''/'nan' STRINGS as-is and lets the
    email-format constraint reject the row with an error.
    """
    s = F.trim(col.cast("string"))
    return F.when(col.isNull(), F.lit(default)).otherwise(s)


def canonical_chromosome(col: Column) -> Column:
    """Prefix ``chr`` when absent (reference src/P6/mapper.py:278-285).

    Empty/null stays null — the caller's row filter rejects it (P7).
    """
    s = F.trim(col.cast("string"))
    return (
        F.when(col.isNull() | (s == ""), F.lit(None).cast("string"))
        .when(F.lower(s).startswith("chr"), s)
        .otherwise(F.concat(F.lit("chr"), s))
    )


def map_lookup(col: Column, mapping: dict[str, str]) -> Column:
    """Literal map lookup (create_map) — unknown keys -> null, so the
    caller can split invalid rows to the audit channel
    (reference src/P6/mapper.py:261-270 drops the row with an error)."""
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.create_map(*pairs)[F.lower(F.trim(col.cast("string")))]


def geno_code_for_zygosity(canonical_zygosity: Column) -> Column:
    """Canonical zygosity term -> GENO allelic-state CURIE
    (reference src/P6/genotype.py:181-189)."""
    pairs: list[Column] = []
    for k, v in GENO_ALLELIC_STATE.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.create_map(*pairs)[canonical_zygosity]
