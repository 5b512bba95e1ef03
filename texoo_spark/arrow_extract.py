"""The extraction lane: the one place where extraction crosses into Python.

A mapInArrow stage fuses the HTML strip (when the turn looks like markup)
with sentence/token segmentation per turn, and works directly on pyarrow
RecordBatches: offset arrays accumulate into flat int32 buffers and become
ListArrays via ListArray.from_arrays (one allocation per batch), and every
input column except ``text`` passes through zero-copy. Token surfaces are
not built; pipeline.with_tok_text derives them in Catalyst when a caller
needs them (schema.py states the reconstruction rule).

Row order within each partition is preserved (mapInArrow is a streaming
per-partition map), so sortWithinPartitions(conv_id, turn_idx) BEFORE this
operator yields stably ordered output — the BASELINE ordering contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from texoo_spark import textops
from texoo_spark.schema import EXTRACT_SCHEMA


def _make_mapper(newlines: str, strip_html_first: bool):
    def mapper(batches):
        import numpy as np
        import pyarrow as pa

        from texoo_spark.html import looks_like_html, strip_html

        extract = textops.extract_arrays_lean
        int32 = pa.int32()
        new_names = EXTRACT_SCHEMA.fieldNames()

        for batch in batches:
            names = batch.schema.names
            texts = batch.column(names.index("text")).to_pylist()
            nrows = len(texts)
            ext_texts: list = [None] * nrows
            ns = np.empty(nrows, np.int32)
            nt = np.empty(nrows, np.int32)
            tb_flat: list[int] = []
            te_flat: list[int] = []
            t_off = np.empty(nrows + 1, np.int32)
            t_off[0] = 0
            sb_flat: list[int] = []
            se_flat: list[int] = []
            sts_flat: list[int] = []
            ste_flat: list[int] = []
            s_off = np.empty(nrows + 1, np.int32)
            s_off[0] = 0
            for i, t in enumerate(texts):
                t = t or ""
                if strip_html_first and looks_like_html(t):
                    t = strip_html(t)["main_text"]
                _, begins, ends, sents, ext = extract(t, newlines)
                ext_texts[i] = ext
                ns[i] = len(sents)
                nt[i] = len(begins)
                tb_flat.extend(begins)
                te_flat.extend(ends)
                t_off[i + 1] = len(tb_flat)
                for s in sents:
                    sb_flat.append(s[0])
                    se_flat.append(s[1])
                    sts_flat.append(s[2])
                    ste_flat.append(s[3])
                s_off[i + 1] = len(sb_flat)

            t_offsets = pa.array(t_off, int32)
            s_offsets = pa.array(s_off, int32)

            def lst(offsets, vals):
                return pa.ListArray.from_arrays(
                    offsets, pa.array(np.asarray(vals, np.int32), int32))

            keep = [j for j, nm in enumerate(names) if nm != "text"]
            arrays = ([batch.column(j) for j in keep]
                      + [pa.array(ext_texts, pa.string()),
                         pa.array(ns, int32), pa.array(nt, int32),
                         lst(t_offsets, tb_flat), lst(t_offsets, te_flat),
                         lst(s_offsets, sb_flat), lst(s_offsets, se_flat),
                         lst(s_offsets, sts_flat), lst(s_offsets, ste_flat)])
            yield pa.RecordBatch.from_arrays(
                arrays, names=[names[j] for j in keep] + new_names)

    return mapper


def extract_turns_arrow(df: DataFrame, newlines: str = textops.DISCARD,
                        strip_html_first: bool = True) -> DataFrame:
    """text -> (extracted_text, token/sentence offset arrays) per row.

    Any input schema with a ``text`` column works (the bare transcript
    table, a bucketed one, a documents table); the output keeps every
    other input column and drops the raw text (the cleaned extracted_text
    replaces it — the extraction contract).
    """
    schema = StructType([f for f in df.schema.fields if f.name != "text"]
                        + EXTRACT_SCHEMA.fields)
    return df.mapInArrow(_make_mapper(newlines, strip_html_first), schema)
