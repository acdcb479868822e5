"""E1/E2 — span explode + batched mention/triple extraction.

Reference counterpart: none (the reference ingests pre-built RDF,
/root/reference/utils.py:66-67); this stage is mandated by BASELINE.json
north_star: "batched mention detection + triple extraction with vectorized
pandas/Arrow UDFs (no per-row Python)".

Spark shape: ONE narrow ``mapInArrow`` over the documents — no
checkpoint, aggregate, join or shuffle. A document is one row, so all its
spans arrive in the same Arrow batch, and per batch:

  spans (list<struct>) --flatten, span_pos = posexplode position-->
    ├─ text spans  --per pattern: Arrow substring prefilter on the
    │               pattern's literal, then its regex on the hits only--> fact mentions
    └─ media spans --the row's first fact subject, min (span_pos,
                    fact_idx), looked up in the same batch--> media mentions

The extractor is pattern-table-driven: each pattern row is (pred, regex,
obj_role, obj_dtype, literal) where obj_role ∈ {entity, literal,
langstring} and ``literal`` is a substring every match contains (it
appears verbatim in the regex), so the Arrow prefilter can only drop
texts the regex would not match. Spans, masks and the media attachment
are Arrow/numpy column operations; Python touches only the texts that
passed a prefilter, to run the regex.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from shacl_dqa_prototype_spark.datagen import (
    P_CREATED_ON,
    P_DEPICTED_IN,
    P_LABEL,
    P_LOCATED_IN,
    P_SAME_AS,
    P_TOPPING,
    RDF_LANGSTRING,
    XSD_DATE,
)
from shacl_dqa_prototype_spark.schemas import MENTIONS_SCHEMA

# (pred, regex with named groups, obj kind, obj dtype, prefilter literal)
# obj kinds: 'entity' → goes through linking; 'literal' and 'langstring'
# (which also captures the language tag) → direct literal.
EXTRACTION_PATTERNS: list[tuple[str, str, str, str | None, str]] = [
    (P_TOPPING, r"^(?P<subj>.+?) is topped with (?P<obj>.+?)\.$", "entity", None,
     " is topped with "),
    (P_LOCATED_IN, r"^(?P<subj>.+?) is located in (?P<obj>.+?)\.$", "entity", None,
     " is located in "),
    (P_SAME_AS, r"^(?P<subj>.+?) is the same as (?P<obj>.+?)\.$", "entity", None,
     " is the same as "),
    (P_CREATED_ON, r"^(?P<subj>.+?) was created on (?P<obj>\d{4}-\d{2}-\d{2})\.$",
     "literal", XSD_DATE, " was created on "),
    (P_LABEL, r'^(?P<subj>.+?) is labeled "(?P<obj>.+)"@(?P<lang>\w+)\.$',
     "langstring", RDF_LANGSTRING, ' is labeled "'),
]
_REGEXES = [re.compile(rx) for _, rx, *_ in EXTRACTION_PATTERNS]
_ARROW_SCHEMA = to_arrow_schema(MENTIONS_SCHEMA)


def explode_spans(documents: DataFrame) -> DataFrame:
    """E1: positional explode — position index is load-bearing for the
    span-sequence invariant (E8) and for media→subject attachment."""
    return documents.select(
        "doc_id", F.posexplode("spans").alias("span_pos", "span")
    ).select("doc_id", "span_pos", "span.kind", "span.text", "span.media_ref")


def _strings(values) -> pa.Array:
    return pa.array(values, type=pa.string())


def _mentions(doc_id: pa.Array, span_pos: np.ndarray, fact_idx: np.ndarray,
              *strings: pa.Array) -> pa.RecordBatch:
    """A MENTIONS_SCHEMA batch; ``strings`` are its string columns from
    subj_surface on, in schema order."""
    return pa.RecordBatch.from_arrays(
        [doc_id, pa.array(span_pos, type=pa.int32()),
         pa.array(fact_idx, type=pa.int32()), *strings], schema=_ARROW_SCHEMA)


def _batch_mentions(batch: pa.RecordBatch,
                   with_media: bool) -> Iterator[pa.RecordBatch]:
    """MENTIONS_SCHEMA rows of one (doc_id, spans) Arrow batch: its fact
    mentions, then (``with_media``) its media mentions.

    A fact is one (span, pattern) match, ``fact_idx`` the pattern's
    ordinal. Each media span of a row that has a fact becomes (first
    subject of the row, depictedIn, media_ref), the first subject being
    the fact with the least (span_pos, fact_idx); a row without facts
    gets no media mention."""
    spans = batch.column("spans")
    lens = pc.fill_null(pc.list_value_length(spans), 0).to_numpy()
    row = np.repeat(np.arange(batch.num_rows), lens)  # span → its doc row
    pos = np.arange(len(row)) - np.repeat(np.cumsum(lens) - lens, lens)
    flat = spans.flatten()  # same order and null handling as posexplode
    kind = pc.struct_field(flat, "kind")
    text = pc.struct_field(flat, "text")
    is_text = pc.fill_null(pc.equal(kind, "text"), False)
    doc_id = batch.column("doc_id")

    idx, fact, subj, obj, lang = [], [], [], [], []
    for k, (pattern, rx) in enumerate(zip(EXTRACTION_PATTERNS, _REGEXES)):
        hit = pc.and_(is_text, pc.fill_null(pc.match_substring(text, pattern[4]), False))
        cand = np.flatnonzero(hit.to_numpy(zero_copy_only=False))
        for i, m in zip(cand, map(rx.search, text.take(cand).to_pylist())):
            if m:
                g = m.groupdict()
                idx.append(i)
                fact.append(k)
                subj.append(g["subj"])
                obj.append(g["obj"])
                lang.append(g.get("lang"))
    idx, fact = np.asarray(idx, dtype=np.int64), np.asarray(fact, dtype=np.int32)
    is_entity = pa.array(np.array([p[2] == "entity" for p in EXTRACTION_PATTERNS])[fact])
    subj, obj, null = _strings(subj), _strings(obj), pa.scalar(None, pa.string())
    yield _mentions(
        doc_id.take(row[idx]), pos[idx], fact, subj,
        _strings([p[0] for p in EXTRACTION_PATTERNS]).take(fact),
        pc.if_else(is_entity, obj, null), pc.if_else(is_entity, null, obj),
        _strings([p[3] for p in EXTRACTION_PATTERNS]).take(fact), _strings(lang))
    if not (with_media and len(idx)):
        return

    f_row = row[idx]
    order = np.lexsort((fact, pos[idx], f_row))
    firsts = order[np.r_[True, f_row[order][1:] != f_row[order][:-1]]]
    first_of_row = np.full(batch.num_rows, -1)
    first_of_row[f_row[firsts]] = firsts
    is_media = pc.fill_null(pc.not_equal(kind, "text"), False)
    m_idx = np.flatnonzero(is_media.to_numpy(zero_copy_only=False))
    m_first = first_of_row[row[m_idx]]
    m_idx, m_first = m_idx[m_first >= 0], m_first[m_first >= 0]
    nulls = pa.nulls(len(m_idx), pa.string())
    yield _mentions(
        doc_id.take(row[m_idx]), pos[m_idx], np.zeros(len(m_idx), np.int32),
        subj.take(m_first),
        _strings([P_DEPICTED_IN] * len(m_idx)), nulls,
        pc.struct_field(flat, "media_ref").take(m_idx), nulls, nulls)


def _extract(documents: DataFrame, with_media: bool) -> DataFrame:
    def mentions(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield from _batch_mentions(batch, with_media)

    return documents.select("doc_id", "spans").mapInArrow(
        mentions, schema=MENTIONS_SCHEMA)


def extract_fact_mentions(documents: DataFrame) -> DataFrame:
    """E2 (stateless half): fact extraction over text spans only.
    One narrow mapInArrow — safe under Structured Streaming append mode
    (no aggregation, no join)."""
    return _extract(documents, with_media=False)


def extract_mentions(documents: DataFrame) -> DataFrame:
    """E2: fact extraction over text spans + media attachment.

    Returns MENTIONS_SCHEMA rows. Media spans become
    (first-subject-of-doc, depictedIn, media_ref) mentions inside the same
    Arrow batch as their doc's facts (``_batch_mentions``), so the whole
    stage is one narrow map."""
    return _extract(documents, with_media=True)
