"""Symbol validation as native Column expressions.

Reproduces the reference's per-row validation loop (reference
validator.py:176-228) columnar-ly.  The lookup sides (symbol list,
validity file, scheme hierarchy) become broadcast joins — see
``operators.lookups`` and ``plans.cpc_pipeline``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: validator.py:221 — valid CPC section letters.
VALID_SECTIONS = list("ABCDEFGHY")

#: validator.py:195 — default status when the symbol is unknown.
DEFAULT_STATUS = "UNKNOWN"

# Warning strings, in the reference's emit order (validator.py:186-207).
WARN_BAD_FORMAT = "Invalid symbol format"
WARN_NOT_IN_LIST = "Symbol not found in symbol list"
WARN_STATUS_PREFIX = "Symbol status: "
WARN_NO_HIERARCHY = "Symbol not found in schema hierarchy"


def normalize_symbol(col: Column) -> Column:
    """Remove ALL whitespace — ``"".join(s.split())`` (validator.py:91, 124, 167)."""
    return F.regexp_replace(col, r"\s+", "")


def symbol_format_valid(symbol: Column) -> Column:
    """validator.py:211-228: non-empty, first char alpha and in A-H/Y,
    and (when length ≥ 3) chars 1-2 are digits.

    The upper-case section list already implies non-empty and alpha;
    ``isNotNull`` makes a NULL symbol read False, not NULL."""
    return (
        symbol.isNotNull()
        & F.substring(symbol, 1, 1).isin(VALID_SECTIONS)
        & (
            (F.length(symbol) < 3)
            | F.substring(symbol, 2, 2).rlike(r"^[0-9]{2}$")
        )
    )


def symbol_list_status(raw_status: Column) -> Column:
    """validator.py:96-98: ``published`` maps to ACTIVE, else pass through."""
    return F.when(raw_status == "published", F.lit("ACTIVE")).otherwise(raw_status)


def validity_status(valid_from: Column, valid_to: Column) -> Column:
    """validator.py:126-131: ACTIVE iff valid_from non-empty AND valid_to
    empty, else INACTIVE (missing valid_to treated as empty)."""
    vf = F.coalesce(F.trim(valid_from), F.lit(""))
    vt = F.coalesce(F.trim(valid_to), F.lit(""))
    return F.when((vf != "") & (vt == ""), F.lit("ACTIVE")).otherwise(
        F.lit("INACTIVE")
    )


def status_with_default(status: Column) -> Column:
    """validator.py:195: dict .get(symbol, 'UNKNOWN') after a left join."""
    return F.coalesce(status, F.lit(DEFAULT_STATUS))


def validation_warnings(
    symbol_valid: Column,
    in_symbol_list: Column,
    status: Column,
    schema_valid: Column,
) -> Column:
    """Warning accumulation (validator.py:186, 192, 197-199, 207) as an
    ArrayType column, preserving the reference's append order."""
    return F.array_compact(
        F.array(
            F.when(~symbol_valid, F.lit(WARN_BAD_FORMAT)),
            F.when(~in_symbol_list, F.lit(WARN_NOT_IN_LIST)),
            F.when(
                status != "ACTIVE",
                F.concat(F.lit(WARN_STATUS_PREFIX), status),
            ),
            F.when(~schema_valid, F.lit(WARN_NO_HIERARCHY)),
        )
    )


def is_fully_valid(
    symbol_valid: Column, in_symbol_list: Column, status: Column
) -> Column:
    """The 'valid' predicate of the orchestration loop (reference
    main.py:79-83): format ∧ membership ∧ ACTIVE."""
    return symbol_valid & in_symbol_list & (status == "ACTIVE")
