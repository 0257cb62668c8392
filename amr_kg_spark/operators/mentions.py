"""Vectorized dictionary/pattern mention detection.

One Arrow pandas UDF scans each turn's text exactly once per entity class
with a single compiled alternation regex (longest-pattern-first, word
boundaries). This replaces the reference's per-row Python loops + dict
lookups (reference src/relations.py:181, src/amr.py:171-177) with a
batched, JVM<->Arrow pipeline: cost is O(total_text_bytes), independent of
vocabulary size at match time, and the vocabulary ships once per executor
via closure capture (it is dimension-table sized).

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
  (shape per reference src/amr.py:396).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import vocab
from ..schemas import MENTION

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


def compile_detectors(vocabularies: dict[str, list[str]]) -> dict[str, re.Pattern]:
    """One alternation regex per class, longest term first, plus the
    ``activity`` value detector (``vocab.ACTIVITY_PATTERN``)."""
    dets: dict[str, re.Pattern] = {}
    for cls, terms in vocabularies.items():
        alts = "|".join(
            re.escape(t) for t in sorted(terms, key=len, reverse=True)
        )
        dets[cls] = re.compile(f"{_BOUND_L}(?:{alts}){_BOUND_R}")
    dets["activity"] = re.compile(f"{_BOUND_L}(?:{vocab.ACTIVITY_PATTERN}){_BOUND_R}")
    return dets


def detect_mentions(turns: DataFrame) -> DataFrame:
    """Append a ``mentions array<struct<entity_class,mention,start>>`` column.

    mapInPandas-free: a scalar pandas UDF keeps the surrounding projection
    inside whole-stage codegen and sends only the text column through Arrow.

    The input is fanned out to the session's parallelism here (no-op on
    multi-split inputs): mention detection is the compute-dense pandas-UDF
    stage, and a small single-file scan would otherwise pin it to one
    core. Measured at sf0.1/local[32]: 1.8s fanned out vs 8.2s pinned
    (min-of-3). Placed HERE rather than in the transcripts derivation so
    shuffle-first consumers (reconstruction, sessionization — whose
    groupBy/window repartitions anyway) don't pay a useless round-robin
    shuffle.
    """
    from ..session import fan_out

    turns = fan_out(turns)
    vocabs = default_vocabularies()

    @F.pandas_udf(T.ArrayType(MENTION))
    def _detect(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        dets = compile_detectors(vocabs)  # compiled once per worker

        for texts in batches:
            # Batch-blob scan: join the whole Arrow batch with '\n' (a
            # boundary character that no pattern can cross) and run each
            # class regex ONCE over the blob — cost scales with matches,
            # not rows, so mention-free turns are nearly free. Offsets map
            # matches back to rows via vectorized searchsorted.
            vals = ["" if t is None else t for t in texts]
            n = len(vals)
            if n == 0:
                yield pd.Series([], dtype=object)
                continue
            lens = np.fromiter((len(t) + 1 for t in vals), dtype=np.int64, count=n)
            row_starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=row_starts[1:])
            blob = "\n".join(vals)

            out: list[list[tuple]] = [[] for _ in range(n)]
            for cls, rx in dets.items():
                matches = list(rx.finditer(blob))
                if not matches:
                    continue
                starts = np.fromiter(
                    (m.start() for m in matches), dtype=np.int64, count=len(matches)
                )
                rows = np.searchsorted(row_starts, starts, side="right") - 1
                for m, ri, st in zip(matches, rows, starts):
                    out[ri].append((cls, m.group(0), int(st - row_starts[ri])))
            yield pd.Series(out)

    # asNondeterministic (guide-pattern for expensive UDFs): downstream
    # explodes imply a `size(mentions) > 0` filter that the optimizer
    # otherwise pushes BELOW the fan-out exchange and DUPLICATES the UDF
    # — the round-8 kg_mentions plan carried two ArrowEvalPython nodes,
    # the lower one scanning every text on the un-fanned (serial) scan
    # side. The function is semantically deterministic; the flag only
    # forbids the optimizer to clone or reorder it.
    _detect_once = _detect.asNondeterministic()
    return turns.withColumn("mentions", _detect_once(F.col("text")))


def detect_mentions_jvm(turns: DataFrame) -> DataFrame:
    """The zero-Python workload of ``bench_scaling.py``'s box-price control
    job: the same gazetteer alternations as :func:`detect_mentions`,
    evaluated with ``regexp_extract_all`` inside whole-stage codegen, so its
    wall tracks the box rather than the Python worker pool. Match positions
    are lost (start = -1); otherwise it yields the same mention multiset as
    :func:`detect_mentions` (asserted in tests). The pipelines and queries
    run :func:`detect_mentions`.
    """
    def _tagged(cls: str, rx: str):
        # single-arg lambda via closure: a two-arg lambda would receive the
        # array index as its second argument in Spark's transform()
        return F.transform(
            F.regexp_extract_all(F.col("text"), F.lit(rx), F.lit(0)),
            lambda m: F.struct(
                F.lit(cls).alias("entity_class"),
                m.alias("mention"),
                F.lit(-1).cast("int").alias("start"),
            ),
        )

    per_class = []
    for cls, terms in default_vocabularies().items():
        alts = "|".join(re.escape(t) for t in sorted(terms, key=len, reverse=True))
        per_class.append(_tagged(cls, f"{_BOUND_L}(?:{alts}){_BOUND_R}"))
    per_class.append(
        _tagged("activity", f"{_BOUND_L}(?:{vocab.ACTIVITY_PATTERN}){_BOUND_R}")
    )
    return turns.withColumn("mentions", F.concat(*per_class))


def explode_mentions(with_mentions: DataFrame) -> DataFrame:
    """UDTF-style flatten: one row per detected mention."""
    m = F.explode("mentions").alias("m")
    return with_mentions.select("conv_id", "turn_idx", m).select(
        "conv_id",
        "turn_idx",
        F.col("m.entity_class").alias("entity_class"),
        F.col("m.mention").alias("mention"),
        F.col("m.start").alias("start"),
    )
