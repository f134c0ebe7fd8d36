"""Dense ``doc_id`` contract for the shipped test data (pyarrow only, no Spark).

``doc_transcripts``, ``stanza_assembly`` and ``stanza_prefix_multiplex``
rank documents as ``doc_id DIV k`` instead of a ``row_number`` window.
That rank is right only when ``documents.doc_id`` is exactly ``0..N-1``:
a gap or a duplicate shifts turn and line numbers without any error.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from test_entry_oracle import SF_DIR as ORACLE_SF_DIR

DIV_RANK_QUERIES = ("doc_transcripts", "stanza_assembly", "stanza_prefix_multiplex")
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf*")))


def dense_id_violation(ids: list[int]) -> str | None:
    """None when ``ids`` are distinct and exactly 0..N-1, else the reason."""
    n = len(ids)
    if n == 0:
        return None
    problems = []
    if len(set(ids)) != n:
        problems.append(f"{n - len(set(ids))} duplicate ids")
    if min(ids) != 0:
        problems.append(f"min id {min(ids)} != 0")
    if max(ids) != n - 1:
        problems.append(f"max id {max(ids)} != N-1 = {n - 1}")
    if not problems:
        return None
    return (
        f"documents.doc_id is not dense ({'; '.join(problems)}): "
        f"{', '.join(DIV_RANK_QUERIES)} rank documents as doc_id DIV k "
        "and would silently misnumber turns/lines"
    )


def test_shipped_documents_have_dense_doc_ids():
    assert SF_DIRS, "no sf* test-data directories found"
    for sf_dir in SF_DIRS:
        ids = (
            pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"])
            .column("doc_id")
            .to_pylist()
        )
        assert ids, f"{sf_dir}: documents.parquet is empty"
        msg = dense_id_violation(ids)
        assert msg is None, f"{os.path.basename(sf_dir)}: {msg}"


@pytest.mark.parametrize(
    "ids, reason",
    [
        ([1, 2, 3], "min id 1 != 0"),
        ([0, 1, 1, 2], "1 duplicate ids"),
        ([0, 1, 3], "max id 3 != N-1 = 2"),
    ],
)
def test_dense_id_violation_names_the_div_rank_queries(ids, reason):
    msg = dense_id_violation(ids)
    assert msg is not None and reason in msg
    for q in DIV_RANK_QUERIES:
        assert q in msg
    assert dense_id_violation(list(range(5))[::-1]) is None
