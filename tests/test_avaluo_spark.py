"""End-to-end fidelity: the distributed extract->link->assemble pipeline
must reproduce the reference record exactly on the fixture corpus
(SURVEY.md §5 item 2 -- here exact equality, stronger than P/R≥0.95)."""

from __future__ import annotations

import hashlib

import pytest

from structured_data_entity_extraction_spark import refsem
from structured_data_entity_extraction_spark.fixtures import avaluo_docs
from structured_data_entity_extraction_spark.link import avaluo_records
from structured_data_entity_extraction_spark.schemas import AVALUO_DOCS, RECORD_FIELDS


@pytest.fixture(scope="module")
def corpus():
    return avaluo_docs(150, seed=7)


def test_records_match_refsem(spark, corpus):
    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in corpus], AVALUO_DOCS
    )
    got = {r["doc_id"]: r.asDict() for r in avaluo_records(docs).collect()}
    assert len(got) == len(corpus)
    mismatches = []
    for row in corpus:
        want = refsem.extract_record(row["text"])
        have = got[row["doc_id"]]
        for f in RECORD_FIELDS:
            if have[f] != want[f]:
                mismatches.append((row["doc_id"], f, have[f], want[f], row["text"][:80]))
    assert not mismatches, f"{len(mismatches)} field mismatches, first 5: {mismatches[:5]}"


def test_content_sha_invariant(spark, corpus):
    """Per-row invariant: sha256(content) survives the pipeline
    (BASELINE.json:input_hint)."""
    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in corpus], AVALUO_DOCS
    )
    out = {r["doc_id"]: r["content_sha"] for r in avaluo_records(docs).collect()}
    for row in corpus:
        want = hashlib.sha256(row["text"].encode("utf-8")).hexdigest()
        assert out[row["doc_id"]] == want


def test_null_and_empty_text(spark):
    docs = spark.createDataFrame([("d0", None), ("d1", "")], AVALUO_DOCS)
    rows = {r["doc_id"]: r.asDict() for r in avaluo_records(docs).collect()}
    assert rows["d1"]["validez_del_formato"] == "NO"
    assert rows["d1"]["municipio"] == ""
    assert rows["d0"]["estado"] == ""
    assert rows["d0"]["boolean_avaluo"] == "NO"


def test_avaluo_triples_match_reference_golden(spark):
    """Independent oracle: the registered avaluo_triples query must equal,
    as a multiset over every column, the committed golden triples that
    tools/make_goldens.py built by running the reference extractor
    itself -- no refsem code on that side."""
    import collections
    import os

    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    golden = pq.read_table(
        os.path.join(entry._GOLDEN_DIR, "avaluo_triples.parquet")
    ).to_pylist()
    cols = list(golden[0])
    got = entry.queries()["avaluo_triples"](spark, "").collect()
    assert len(got) == len(golden) == 200 * len(RECORD_FIELDS)
    want = collections.Counter(tuple(r[c] for c in cols) for r in golden)
    have = collections.Counter(tuple(r[c] for c in cols) for r in got)
    assert have == want, (
        f"{sum((have - want).values())} rows not in the golden, first 5: "
        f"{list((have - want))[:5]}"
    )
