"""The per-session store: ``session.session_memo`` serves an entry while
its source's identity holds and releases a superseded one.

Tiny tables are written under ``tmp_path`` and then rewritten in place;
every memoized value derived from them must follow the rewrite, and a
superseded Spark-cached frame must be unpersisted.  A guard keeps
``session_key`` inside ``session.py``, so no session-keyed cache can
appear beside the store.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import ophidia_io_server_spark
from ophidia_io_server_spark import session
from ophidia_io_server_spark.session import session_memo
from ophidia_io_server_spark.sources.tables import (
    lineitem_fragment_cached,
    table_ident,
)


def _write_lineitem(sf: str, quantities: list[float]) -> None:
    n = len(quantities)
    pq.write_table(pa.table({
        "l_orderkey": pa.array([1] * n, pa.int64()),
        "l_linenumber": pa.array(range(1, n + 1), pa.int64()),
        "l_quantity": pa.array(quantities, pa.float64()),
    }), f"{sf}/lineitem.parquet")


def test_cached_fragment_follows_a_rewritten_lineitem(spark, tmp_path):
    sf = str(tmp_path)
    _write_lineitem(sf, [10.0, 11.0, 12.0])
    old = lineitem_fragment_cached(spark, sf)
    assert [r.measure for r in old.collect()] == [[10.0, 11.0, 12.0]]
    assert lineitem_fragment_cached(spark, sf) is old

    _write_lineitem(sf, [50.0, 51.0, 52.0])
    new = lineitem_fragment_cached(spark, sf)
    assert [r.measure for r in new.collect()] == [[50.0, 51.0, 52.0]]
    assert new is not old and new.is_cached
    assert not old.is_cached


def test_session_memo_follows_its_ident(spark, tmp_path):
    """A cached frame over a parquet is rebuilt when the file is rewritten
    in place.  The old frame is unpersisted before the new one is cached:
    its plan compares equal to the new one, so while it stays cached it
    would also answer for the new frame."""
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    builds = []

    def memo():
        def build():
            builds.append(1)
            return spark.read.parquet(path).cache()
        return session_memo(spark, ("test_session_memo", sf), build,
                            ident=table_ident(sf, "t"))

    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    old = memo()
    assert sorted(r.k for r in old.collect()) == [1, 2]
    assert memo() is old and len(builds) == 1

    pq.write_table(pa.table({"k": pa.array([7, 8, 9], pa.int64())}), path)
    new = memo()
    assert sorted(r.k for r in new.collect()) == [7, 8, 9]
    assert len(builds) == 2 and not old.is_cached


def test_session_memo_drops_a_stopped_application(spark, monkeypatch):
    monkeypatch.setattr(session, "_MEMO",
                        {"local-stopped": {("k",): (None, "stale")}})
    assert session_memo(spark, ("k",), lambda: "fresh") == "fresh"
    assert list(session._MEMO) == [spark.sparkContext.applicationId]


def test_shingles_follow_a_regenerated_documents_table(spark, tmp_path):
    """``dedup_ngram_jaccard`` shares its shingles through ``shingle_df``'s
    memo; a regenerated ``documents`` table is shingled again."""
    from ophidia_io_server_spark.pipeline.dedup import shingle_df
    from ophidia_io_server_spark.sources.tables import load_table
    from ophidia_io_server_spark.workloads import WORKLOADS

    sf = str(tmp_path)
    fn = WORKLOADS["dedup_ngram_jaccard"].fn

    def pairs(dup: int) -> list[tuple[int, int]]:
        # ten distinct docs, then doc ``dup + 1`` made a copy of doc ``dup``
        # (the workload drops shingles found in more than 20 % of docs)
        texts = [f"a{i} b{i} c{i} d{i} e{i}" for i in range(10)]
        texts[dup + 1] = texts[dup]
        pq.write_table(pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": texts,
        }), f"{sf}/documents.parquet")
        return sorted((r.doc_a, r.doc_b) for r in fn(spark, sf).collect())

    assert pairs(0) == [(0, 1)]
    old = shingle_df(load_table(spark, sf, "documents"),
                     memo_key=table_ident(sf, "documents"))
    assert old.is_cached
    assert pairs(5) == [(5, 6)]
    assert not old.is_cached


def _session_key_refs(source: str, name: str) -> list[str]:
    return [f"{name}:{n.lineno}" for n in ast.walk(ast.parse(source))
            if (isinstance(n, ast.Name) and n.id == "session_key")
            or (isinstance(n, ast.Attribute) and n.attr == "session_key")
            or (isinstance(n, ast.alias) and n.name == "session_key")]


def test_only_the_store_reads_session_key():
    """A module that keys a cache by session itself would sit beside
    ``session_memo`` with its own lifetime rule."""
    planted = ("from ophidia_io_server_spark.session import session_key\n"
               "import ophidia_io_server_spark.session as s\n"
               "k = (session_key(spark), s.session_key(spark))\n")
    assert len(_session_key_refs(planted, "planted.py")) == 3
    package = Path(ophidia_io_server_spark.__file__).parent
    found = [ref for p in sorted(package.rglob("*.py"))
             if p != package / "session.py"
             for ref in _session_key_refs(p.read_text(), str(p.relative_to(package)))]
    assert found == []
