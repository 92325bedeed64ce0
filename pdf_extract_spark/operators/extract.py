"""The flagship extraction operator: documents(spans) -> spans_out.

Replaces the reference's per-document LLM session loop
(/root/reference/main.py:228-503 + euaa_사례/sentence_composer.py:635-744)
with the deterministic rule core, executed as ONE map-only stage: no
explode, no shuffle — each Arrow batch of documents is transformed by an
``arrow_udf`` (planned as the single ArrowEvalPython node) whose kernel
never leaves Arrow until the per-document FSM:

  1. **flatten + order** — the batch's ``list<struct>`` column is
     flattened once; a stable sort on (document, offset) restores each
     document's reading order (skipped when the input is already in it);
  2. **front-end in pyarrow.compute** (RE2, C++) — the cleanup trigger,
     then the cleanup replaces on the dirty rows only
     (``replace_with_mask``); boilerplate keys as ``value_counts`` over a
     ``document\x00collapsed`` key followed by ``is_in``; the text-shape
     tags with ``match_substring_regex`` / ``count_substring``. Every
     pattern is the RE2_* twin rules.py keeps next to the Python pattern
     (tests/test_re2_twins.py pins the character classes);
  3. **FSM on parallel lists** — the run-merge and sentence-composition
     FSM (rules.merge_tag_runs / rules.compose_runs, the ONLY FSM) walks
     each document's kept (kind, text, media_ref) lists; the output is
     assembled with ``ListArray.from_arrays``, no per-span dicts.

Arrow batches are bounded by spark.sql.execution.arrow.maxRecordsPerBatch,
so one batch never holds more than a few hundred documents. At cluster
scale the input is hash-salted and range-repartitioned by the pipeline
wrapper (pipeline.py) BEFORE this stage, per the north rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_type

from pdf_extract_spark import rules
from pdf_extract_spark.schemas import SPANS

SPANS_ARROW = to_arrow_type(SPANS)
# spark.sql.execution.arrow.useLargeVarTypes ships large_string fields;
# the result must come back in the type the batch arrived in
SPANS_ARROW_LARGE = to_arrow_type(SPANS, prefers_large_types=True)

# tag codes -> kind strings
_KIND_NAMES = np.array(["P", "H1", "H2", "H3", "table", "media"], dtype=object)
_P, _H1, _H2, _H3, _TABLE, _MEDIA = range(6)


def _to_list(strings: pa.Array) -> list[str]:
    # via numpy: ~6x faster than to_pylist(), which boxes a Scalar per row
    return strings.to_numpy(zero_copy_only=False).tolist()


def _as_spans_array(spans) -> pa.Array:
    """Accept what Spark ships (a pa.Array) and, for in-process callers, a
    pandas Series or list of span-dict lists."""
    if isinstance(spans, pa.Array):
        return spans
    return pa.array(spans, type=SPANS_ARROW)


def _boilerplate_mask(doc, is_text, is_candidate, raw_len, collapsed) -> pa.Array:
    """rules.boilerplate_keys + the `collapse_ws(raw) in bp` drop: keys are
    COUNTED over kind=='text' spans with 1 <= len(raw) <= MAX and a
    non-empty collapsed form, and DROP every candidate span (non-media,
    non-table) whose collapsed form is a key of its own document. A key
    comes from a raw text of at most MAX chars, so only candidates whose
    collapsed form is that short can hit one."""
    n = len(collapsed)
    coll_len = pc.utf8_length(collapsed)
    cand = pc.and_(is_candidate, pc.and_(pc.greater(coll_len, 0),
                                         pc.less_equal(coll_len, rules.BOILERPLATE_MAX_LEN)))
    if not pc.any(cand).as_py():
        return pa.array(np.zeros(n, dtype=bool))
    keys = pc.binary_join_element_wise(
        pc.cast(pc.filter(doc, cand), pa.string()),
        pc.cast(pc.filter(collapsed, cand), pa.string()),
        "\x00",
    )
    counted = pc.filter(
        pc.and_(is_text, pc.less_equal(raw_len, rules.BOILERPLATE_MAX_LEN)), cand
    )
    vc = pc.value_counts(pc.filter(keys, counted))
    bp = pc.filter(vc.field("values"),
                   pc.greater_equal(vc.field("counts"), rules.BOILERPLATE_MIN_REPEATS))
    if not len(bp):
        return pa.array(np.zeros(n, dtype=bool))
    return pc.replace_with_mask(pa.array(np.zeros(n, dtype=bool)), cand,
                                pc.is_in(keys, value_set=bp))


def _tag_codes(cleaned, is_media, is_table) -> pa.Array:
    """rules.tag_by_text over cleaned text (same precedence), with the
    structural kinds overriding: media, then table, then the text tags."""
    def m(pattern):
        return pc.match_substring_regex(cleaned, pattern)

    h3 = m(rules.RE2_H3_COLON)
    # cleaned text holds single spaces only, so words = spaces + 1
    eligible = pc.and_not(
        pc.invert(pc.or_(m(rules.RE2_TERMINAL_END),
                         pc.greater_equal(pc.count_substring(cleaned, " "),
                                          rules.MAX_HEADER_WORDS))),
        h3,
    )
    h2 = pc.and_(eligible, m(rules.RE2_H2_NUM))
    h1 = pc.and_(eligible, pc.or_(m(rules.RE2_H1_NUM), m(rules.RE2_ALLCAPS)))
    return pc.case_when(
        pc.make_struct(is_media, is_table, h3, h2, h1),
        _MEDIA, _TABLE, _H3, _H2, _H1, _P,
    )


def _extract_batch(spans) -> pa.Array:
    """Arrow-native batch extraction: list<span> -> list<span>, one output
    row per input row; NULL rows stay NULL, empty rows give [].
    Equivalent to rules.extract_document per row (tests/test_properties.py
    fuzzes the parity)."""
    arr = _as_spans_array(spans)
    large = pa.types.is_large_string(arr.type.value_type.field("kind").type)
    out_type = SPANS_ARROW_LARGE if large else SPANS_ARROW
    n_docs = len(arr)

    # --- 1. flatten + stable (document, offset) order -------------------
    # parent index per flattened span from the row lengths: unlike
    # pc.list_parent_indices this agrees with list_flatten on NULL rows
    # backed by a non-empty range and on sliced arrays
    lengths = pc.fill_null(pc.list_value_length(arr), 0).to_numpy()
    flat = pc.list_flatten(arr)
    doc = pa.array(np.repeat(np.arange(n_docs, dtype=np.int32), lengths))
    offset = pc.struct_field(flat, "offset")
    if len(flat) > 1:
        ordered = pc.all(pc.or_(
            pc.not_equal(doc[1:], doc[:-1]),
            pc.greater_equal(offset[1:], offset[:-1]),
        )).as_py()
        if not ordered:
            order = pc.sort_indices(
                pa.table({"d": doc, "o": offset}),
                sort_keys=[("d", "ascending"), ("o", "ascending")],
            )
            flat = flat.take(order)
            doc = doc.take(order)
    del offset
    kind = pc.struct_field(flat, "kind")
    text = pc.fill_null(pc.struct_field(flat, "text"), "")
    media = pc.fill_null(pc.struct_field(flat, "media_ref"), "")
    del flat
    is_media = pc.fill_null(pc.equal(kind, "media"), False)
    is_table = pc.fill_null(pc.equal(kind, "table"), False)
    is_text = pc.fill_null(pc.equal(kind, "text"), False)
    del kind

    # --- 2. cleanup front-end (rules.clean_fragment / collapse_ws) ------
    # clean rows (no trigger hit): every cleanup pass is identity except
    # the final strip, so cleaned == collapsed == trimmed raw text
    cleaned = pc.utf8_trim_whitespace(text)
    collapsed = cleaned
    dirty = pc.match_substring_regex(text, rules.RE2_CLEAN_TRIGGER)
    if pc.any(dirty).as_py():
        raw_d = pc.filter(text, dirty)
        collapsed = pc.replace_with_mask(cleaned, dirty, pc.utf8_trim_whitespace(
            pc.replace_substring_regex(raw_d, rules.RE2_WS, " ")))
        t = pc.replace_substring_regex(raw_d, rules.RE2_DOT_LEADER, "")
        t = pc.replace_substring_regex(t, rules.RE2_BULLET, "")
        t = pc.replace_substring_regex(t, rules.RE2_STAR, " ")
        t = pc.replace_substring_regex(t, rules.RE2_WS, " ")
        cleaned = pc.replace_with_mask(cleaned, dirty, pc.utf8_trim_whitespace(t))
        del raw_d, t
    raw_len = pc.utf8_length(text)
    del text
    bp = _boilerplate_mask(
        doc, is_text, pc.invert(pc.or_(is_media, is_table)), raw_len, collapsed
    )
    del collapsed, raw_len

    # media spans always stay; other spans stay unless boilerplate
    # (never for table spans) or cleaned to empty
    keep = pc.or_(is_media, pc.and_(pc.invert(bp), pc.greater(pc.utf8_length(cleaned), 0)))
    doc = pc.filter(doc, keep)
    is_media = pc.filter(is_media, keep)
    cleaned = pc.filter(cleaned, keep)
    codes = _tag_codes(cleaned, is_media, pc.filter(is_table, keep))
    kinds = _KIND_NAMES[codes.to_numpy()].tolist()
    texts = _to_list(pc.if_else(is_media, "", cleaned))
    medias = _to_list(pc.if_else(is_media, pc.filter(media, keep), ""))
    del cleaned, media, codes

    # --- 3. per-document run-merge + composition FSM (rules.py) ---------
    bounds = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(np.bincount(doc.to_numpy(), minlength=n_docs), out=bounds[1:])
    bounds = bounds.tolist()
    out_k: list[str] = []
    out_t: list[str] = []
    out_m: list[str] = []
    list_offsets = [0]
    for d in range(n_docs):
        a, b = bounds[d], bounds[d + 1]
        if a < b:
            k, t, m = rules.compose_runs(
                *rules.merge_tag_runs(kinds[a:b], texts[a:b], medias[a:b])
            )
            out_k += k
            out_t += t
            out_m += m
        list_offsets.append(len(out_k))

    list_offsets = np.array(list_offsets, dtype=np.int32)
    counts = np.diff(list_offsets)
    span_offset = np.arange(len(out_k), dtype=np.int32) - np.repeat(list_offsets[:-1], counts)
    struct_type = out_type.value_type
    values = pa.StructArray.from_arrays(
        [pa.array(out_k, struct_type.field("kind").type),
         pa.array(out_t, struct_type.field("text").type),
         pa.array(out_m, struct_type.field("media_ref").type),
         pa.array(span_offset, pa.int32())],
        fields=list(struct_type),
    )
    return pa.ListArray.from_arrays(
        pa.array(list_offsets), values, type=out_type,
        mask=arr.is_null() if arr.null_count else None,
    )


@arrow_udf(SPANS)
def extract_spans(spans: pa.Array) -> pa.Array:
    return _extract_batch(spans)


def extract_documents(df):
    """documents(doc_id, spans) -> spans_out(doc_id, spans). Map-only."""
    return df.select("doc_id", extract_spans(F.col("spans")).alias("spans"))


# --------------------------------------------------------------------------
# giant-document skew defense (SURVEY.md §7.4.4)
# --------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

FRAG = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
        ]
    )
)


@pandas_udf(FRAG)
def _tag_fragments_udf(spans: pd.Series) -> pd.Series:
    return spans.map(lambda s: rules.tag_fragments(s) if s is not None else None)


@pandas_udf(T.ArrayType(FRAG))
def _chunk_fragments_udf(frags: pd.Series, target: pd.Series) -> pd.Series:
    def chunk(f, t):
        pts = rules.safe_split_points(f, int(t))
        bounds = [0] + pts + [len(f)]
        # a giant doc whose fragments ALL dropped during tagging must not
        # vanish: emit one empty chunk so posexplode keeps the doc_id and
        # the reassembled output carries an empty spans array, exactly
        # like the single-pass path
        return [f[a:b] for a, b in zip(bounds, bounds[1:]) if b > a] or [[]]

    return pd.Series([chunk(f, t) if f is not None else None
                      for f, t in zip(frags, target)])


@pandas_udf(SPANS)
def _compose_chunk_udf(chunk: pd.Series) -> pd.Series:
    return chunk.map(
        lambda f: rules.compose_fragments(rules.merge_consecutive_tags(f))
        if f is not None else []
    )


def extract_documents_balanced(df, max_spans: int = 4096):
    """Skew-defused extraction: documents whose span count exceeds
    ``max_spans`` are split at EXACT-safe boundaries (headers/media after
    tagging — rules.safe_split_points), their chunks composed in parallel
    across tasks, then reassembled in chunk order with offsets renumbered.
    Small documents take the ordinary map-only path; only giants pay the
    extra explode + regroup shuffle. Results are byte-identical to
    extract_documents (tests/test_skew.py)."""
    # NULL spans must not vanish: coalesce sends them down the small
    # path, where extract_spans maps None -> None like the plain operator
    sized = df.withColumn("n_spans", F.coalesce(F.size("spans"), F.lit(0)))
    small = sized.filter(F.col("n_spans") <= max_spans)
    giant = sized.filter(F.col("n_spans") > max_spans)

    small_out = small.select("doc_id", extract_spans(F.col("spans")).alias("spans"))

    tagged = giant.select(
        "doc_id",
        _tag_fragments_udf(F.col("spans")).alias("frags"),
    )
    chunked = tagged.select(
        "doc_id",
        F.posexplode(
            _chunk_fragments_udf(F.col("frags"), F.lit(max_spans // 2))
        ).alias("chunk_idx", "chunk"),
    )
    composed = chunked.select(
        "doc_id", "chunk_idx", _compose_chunk_udf(F.col("chunk")).alias("part")
    )
    reassembled = (
        composed.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "part"))),
                    lambda s: s["part"],
                )
            ).alias("flat")
        )
        .select(
            "doc_id",
            F.transform(
                F.col("flat"),
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    return small_out.unionByName(reassembled)
