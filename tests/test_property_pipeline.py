"""Property-based equivalence: the Arrow extraction kernel vs the scalar
golden implementation over arbitrary span structures (random kinds incl.
unknown ones, unsorted/duplicate offsets, nulls, empty docs, empty batches).

Drives ``_extract_arrow_batch`` directly with pyarrow RecordBatches — no
SparkSession needed, so hypothesis can explore hundreds of cases fast.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_search_spark.kernels.reference_impl import extract_document_spans
from ocr_search_spark.pipeline.extract import _extract_arrow_batch

_IN_SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)

_KINDS = st.sampled_from(
    ["txt", "html", "pdf", "docx", "image", "uns", "rtf", "xls", "email", "mystery", ""]
)

_TEXT = st.text(
    alphabet=st.characters(codec="utf-8", categories=("L", "N", "P", "Z", "Cc")),
    max_size=80,
)

_SPAN = st.fixed_dictionaries(
    {
        "kind": st.one_of(st.none(), _KINDS),
        "text": st.one_of(st.none(), _TEXT),
        "media_ref": st.one_of(
            st.none(), st.just(""), st.from_regex(r"media://d/[0-9]{1,3}", fullmatch=True)
        ),
        # offsets: arbitrary ints incl. duplicates and negatives (non-null —
        # the ordering key contract)
        "offset": st.integers(min_value=-5, max_value=300),
    }
)

_DOC = st.lists(_SPAN, max_size=12)


@given(st.lists(_DOC, max_size=16))
@settings(max_examples=150, deadline=None)
def test_arrow_kernel_matches_scalar(docs):
    doc_ids = [f"doc_{i:04d}" for i in range(len(docs))]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, type=pa.string()),
            pa.array(docs, type=pa.list_(_IN_SPAN)),
            pa.array([0] * len(docs), type=pa.int32()),
        ],
        names=["doc_id", "spans", "part_id"],
    )
    out = _extract_arrow_batch(batch)
    got = {
        d: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]
        for d, spans in zip(
            out.column(0).to_pylist(), out.column(4).to_pylist()
        )
    }

    for doc_id, spans in zip(doc_ids, docs):
        # scalar truth: sorted() is stable, matching the kernel's lexsort
        norm = [
            {
                "kind": s["kind"],
                "text": s["text"],
                "media_ref": s["media_ref"],
                "offset": s["offset"],
            }
            for s in spans
        ]
        want = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_document_spans(norm)
        ]
        assert got[doc_id] == want, f"{doc_id}: {got[doc_id]} != {want}"

    # lineage metrics agree
    n_spans = out.column(2).to_pylist()
    assert n_spans == [len(d) for d in docs]


def test_empty_batch_yields_nothing():
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([], type=pa.string()),
            pa.array([], type=pa.list_(_IN_SPAN)),
            pa.array([], type=pa.int32()),
        ],
        names=["doc_id", "spans", "part_id"],
    )
    from ocr_search_spark.pipeline.extract import _kernel

    assert list(_kernel(iter([batch]))) == []


def test_null_spans_row_treated_as_empty():
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(["a", "b"], type=pa.string()),
            pa.array([None, [{"kind": "txt", "text": "x", "media_ref": "", "offset": 0}]],
                     type=pa.list_(_IN_SPAN)),
            pa.array([0, 0], type=pa.int32()),
        ],
        names=["doc_id", "spans", "part_id"],
    )
    out = _extract_arrow_batch(batch)
    spans = dict(zip(out.column(0).to_pylist(), out.column(4).to_pylist()))
    assert spans["a"] == []
    assert spans["b"][0]["text"] == "x"
