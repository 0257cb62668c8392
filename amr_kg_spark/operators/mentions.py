"""Dictionary/pattern mention detection as one Catalyst expression.

Each turn's text is scanned once per entity class by ``regexp_extract_all``
with a single alternation regex (longest-pattern-first, word boundaries),
evaluated by the JVM's regex engine inside the scan-side projection: no
Python worker, no Arrow transfer. This replaces the reference's per-row
Python loops + dict lookups (reference src/relations.py:181,
src/amr.py:171-177); cost is O(total_text_bytes), and the vocabulary ships
as a literal pattern in the plan (it is dimension-table sized).

Semantics (deterministic, oracle-checkable):
- a vocabulary term matches iff it appears in the text delimited by
  non-alphanumeric characters on both sides (so 'Escherichia coli' does
  not fire inside 'Escherichia coliX');
- at a given position the LONGEST vocabulary term wins within a class
  (standard gazetteer behavior — 'Escherichia coli K12' beats
  'Escherichia coli', mirroring the reference's strain-alias keys,
  reference src/constants.py:14-50); matches within a class do not overlap;
- classes are matched independently (a compound and a pathogen may overlap);
- MIC/pChEMBL-style activity values match the value+unit pattern
  (shape per reference src/amr.py:396); ``\\d`` is ASCII-only in Java, as
  in the DuckDB oracle's RE2, so fullwidth digits are not values.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import vocab

_BOUND_L = r"(?<![A-Za-z0-9])"
_BOUND_R = r"(?![A-Za-z0-9])"


def default_vocabularies() -> dict[str, list[str]]:
    """Entity classes -> gazetteer terms (the reference's five classes)."""
    return {
        "pathogen": [p for p, _ in vocab.PATHOGENS]
        + [a for a, _ in vocab.STRAIN_ALIASES],
        "compound": [c[0] for c in vocab.COMPOUNDS],
        "institution": [i[1] for i in vocab.INSTITUTES],
    }


def compile_detectors(vocabularies: dict[str, list[str]]) -> dict[str, str]:
    """One Java regex per class, its alternation longest term first, plus
    the ``activity`` value detector (``vocab.ACTIVITY_PATTERN``)."""
    alts = {
        cls: "|".join(re.escape(t) for t in sorted(terms, key=len, reverse=True))
        for cls, terms in vocabularies.items()
    }
    alts["activity"] = vocab.ACTIVITY_PATTERN
    return {cls: f"{_BOUND_L}(?:{a}){_BOUND_R}" for cls, a in alts.items()}


def detect_mentions(turns: DataFrame) -> DataFrame:
    """Append a ``mentions array<struct<entity_class,mention>>`` column,
    in class order and text order within a class; NULL text yields ``[]``.

    The input is fanned out to the session's parallelism here (no-op on
    multi-split inputs): mention detection is the compute-dense stage, and
    a small single-file scan would otherwise pin it to one core. Placed
    HERE rather than in the transcripts derivation so shuffle-first
    consumers (reconstruction, sessionization — whose groupBy/window
    repartitions anyway) don't pay a useless round-robin shuffle.
    """
    from ..session import fan_out

    text = F.coalesce(F.col("text"), F.lit(""))

    def tagged(cls: str, rx: str):
        # single-arg lambda via closure: a two-arg lambda would receive the
        # array index as its second argument in Spark's transform()
        return F.transform(
            F.regexp_extract_all(text, F.lit(rx), F.lit(0)),
            lambda m: F.struct(
                F.lit(cls).alias("entity_class"), m.alias("mention")
            ),
        )

    dets = compile_detectors(default_vocabularies())
    return fan_out(turns).withColumn(
        "mentions", F.concat(*(tagged(cls, rx) for cls, rx in dets.items()))
    )


def explode_mentions(with_mentions: DataFrame) -> DataFrame:
    """UDTF-style flatten: one row per detected mention.

    ``explode_outer`` plus a NULL filter rather than ``explode``: Spark
    infers a ``size(mentions) > 0`` filter from ``explode`` and pushes it
    below the fan-out exchange, cloning the regex scan onto the un-fanned
    (serial) scan side.
    """
    m = F.explode_outer("mentions").alias("m")
    return (
        with_mentions.select("conv_id", "turn_idx", m)
        .filter(F.col("m").isNotNull())
        .select(
            "conv_id",
            "turn_idx",
            F.col("m.entity_class").alias("entity_class"),
            F.col("m.mention").alias("mention"),
        )
    )
