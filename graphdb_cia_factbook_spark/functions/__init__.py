"""Scalar function library (SURVEY.md §2.8, reference F1-F16).

Every "UDF" in the reference is a Python row function applied with
``.apply``/``.map`` (currency_converter scrape_cia.py:22-38, percentage
lambdas :119-123, population scan :256-280).  Here each becomes a
*native Catalyst column expression* -- JVM-side, codegen'd, vectorized
-- because a row-at-a-time Python UDF on 100 TB is a 10-100x tax.
No function in this module creates a Python UDF.

F3 (exports_p_parser note splitter, scrape_cia.py:9-19) is dead code in
the reference -- defined, never called -- and intentionally omitted.
F12 (current-date stamp, scrape_cia.py:83-85) is ``F.current_date()``;
it is nondeterministic by nature so no oracle query uses it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: word -> multiplier map used by the reference's currency_converter
#: (scrape_cia.py:26-28); unknown second tokens multiply by 1 ("the
#: full amount may be written", :33-36).
CURRENCY_MULTIPLIERS = {"million": 1e6, "billion": 1e9, "trillion": 1e12}

#: country-name canonicalization map (scrape_cia.py:305-309)
COUNTRY_FIXES = {
    "Korea, South": "South Korea",
    "Korea, North": "North Korea",
    "US": "United States",
    "Untied States": "United States",
}


def parse_currency(col: Column) -> Column:
    """F1: ``"$2.1 billion (2020 est.)"`` -> dollars as double
    (currency_converter, scrape_cia.py:22-38).

    Semantics preserved exactly: gate ``^\\$\\d+`` else NULL; strip $;
    first space-token de-comma'd -> float; second token looked up in
    the multiplier map with default x1.
    """
    stripped = F.regexp_replace(col, r"^\$", "")
    amount = (F.regexp_replace(F.split_part(stripped, F.lit(" "), F.lit(1)),
                               ",", "").cast("double"))
    word = F.split_part(F.concat(stripped, F.lit(" ")), F.lit(" "), F.lit(2))
    mult = F.lit(1.0)
    for w, m in CURRENCY_MULTIPLIERS.items():
        mult = F.when(word == w, F.lit(m)).otherwise(mult)
    return F.when(col.rlike(r"^\$\d+"), amount * mult)


def extract_year(col: Column) -> Column:
    """F2: year peel -- ``x.split(" (",1)[-1][:4]`` then require 4
    digits else NULL (scrape_cia.py:71-74)."""
    after = F.element_at(F.split(col, r" \(", 2), -1)
    y = after.substr(1, 4)
    return F.when(y.rlike(r"^\d{4}$"), y)


def extract_percentage(col: Column) -> Column:
    """F4+F5: partner percentage -- trailing ``NN%`` -> NN/100
    (scrape_cia.py:119-123); the fuzzy quantifier "almost entirely"
    imputes 0.9 (:126-129)."""
    pct = F.regexp_extract(col, r"(\d+)%$", 1)
    return (F.when(col.contains("almost entirely"), F.lit(0.9))
            .when(pct != "", pct.cast("double") / 100))


def strip_percentage_token(col: Column) -> Column:
    """F4/F5 companion: recover the partner name -- drop the trailing
    ``NN%`` token (``x.rsplit(" ",1)[0]``, scrape_cia.py:122-123) or
    the "almost entirely" phrase (:128-129), then trim."""
    return F.when(
        col.contains("almost entirely"),
        F.trim(F.regexp_replace(col, "almost entirely", "")),
    ).when(
        col.rlike(r"\d+%$"),
        F.trim(F.regexp_replace(col, r"\s+\S+$", "")),
    ).otherwise(F.trim(col))


def split_goods_list(col: Column) -> Column:
    """F6/F7: goods-list parse -- text before the first ``(``, split on
    commas, trimmed (scrape_cia.py:206-207)."""
    head = F.substring_index(col, "(", 1)
    return F.transform(F.split(head, ","), lambda x: F.trim(x))


def parse_population(col: Column) -> tuple[Column, Column]:
    """F8: the stateful digit-group scan (scrape_cia.py:256-280).

    Returns ``(population, year)`` columns.  Reference semantics
    preserved: scan ``[\\d,]+`` matches left to right; the first group
    whose length != 4 is the population (de-comma'd); the first 4-char
    group AFTER it is the year; if no population is found the year is
    never set (the while-loop exits with both unset).

    Pure array expressions: regexp_extract_all -> transform/
    array_position to find the population index -> slice + filter for
    the year.  Order-preserving, no UDF.
    """
    arr = F.regexp_extract_all(col, F.lit(r"[\d,]+"), 0)
    flags = F.transform(arr, lambda x: F.length(x) != 4)
    pop_i = F.array_position(flags, F.lit(True))  # 1-based, 0 if absent
    population = F.when(
        pop_i > 0,
        F.regexp_replace(F.element_at(arr, pop_i.cast("int")), ",", "")
    ).cast("double")
    tail = F.slice(arr, (pop_i + 1).cast("int"), F.size(arr))
    year = F.when(
        pop_i > 0,
        F.get(F.filter(tail, lambda x: F.length(x) == 4), 0))
    return population, year


def impute(col: Column, default) -> Column:
    """F9: constant imputation (`fillna(0)` / `fillna(1970)` /
    `fillna("")`, preprocess_upload_neo4j.py:125-126, 143-144, ...)."""
    return F.coalesce(col, F.lit(default))


def scale_to_billions(col: Column, digits: int = 3) -> Column:
    """F10: ``round(x / 1e9, 3)`` unit scaling for node properties
    (preprocess_upload_neo4j.py:259-266)."""
    return F.round(col / 1e9, digits)


def canonicalize_country(col: Column) -> Column:
    """J6: country-name fixes as a when-chain (scrape_cia.py:66-67 with
    the map at :305-309)."""
    out = None
    for raw, fixed in COUNTRY_FIXES.items():
        out = (F.when(col == raw, F.lit(fixed)) if out is None
               else out.when(col == raw, F.lit(fixed)))
    return out.otherwise(col)


def zvalue(a, b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative integer
    columns: bit i of ``a`` lands at position 2i, bit i of ``b`` at
    2i+1.  Sorting or range-partitioning by the z-value co-clusters
    BOTH dimensions, so min/max footer skipping prunes 2-D predicates
    -- the multi-dimensional upgrade of ``sources.write_clustered``
    (Delta/Iceberg OPTIMIZE ZORDER runs exactly this).  Pure integer
    shift/mask expressions -- engine-exact, codegen-friendly."""
    from pyspark.sql import functions as F
    za = a.cast("long")
    zb = b.cast("long")
    out = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        out = (out
               .bitwiseOR(F.shiftleft(
                   F.shiftright(za, i).bitwiseAND(one), 2 * i))
               .bitwiseOR(F.shiftleft(
                   F.shiftright(zb, i).bitwiseAND(one), 2 * i + 1)))
    return out


#: explicit accent-fold table (the common Latin-1 diacritics) -- an
#: EXPLICIT table rather than engine-specific strip_accents so the
#: fold is identical wherever the pipeline runs
ACCENT_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
ACCENT_DST = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"


def text_fold(col):
    """Canonical text fold for matching/dedup keys: lowercase +
    explicit accent fold + whitespace collapse + trim.  The
    normalization pass upstream of every string-equality join
    (J6-style country fixes catch aliases; this catches encodings).
    Pure translate/regexp codegen."""
    from pyspark.sql import functions as F
    folded = F.translate(col, ACCENT_SRC, ACCENT_DST)
    return F.trim(F.regexp_replace(F.lower(folded), r"\s+", " "))
