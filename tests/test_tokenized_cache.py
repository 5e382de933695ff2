"""Cache-identity and publish-failure behavior of the tokenize-at-ingest
side table (plans/tokenized.py) — pins the ADVICE r10 fixes."""

import os
import shutil

from event_store_spark.plans.tokenized import TOK_TABLE
from event_store_spark.tables import side_table_dir


def _tok_dir(sf_dir: str) -> str:
    return side_table_dir(sf_dir, "documents", TOK_TABLE)


def _write_corpus(dirpath):
    os.makedirs(dirpath, exist_ok=True)
    part = os.path.join(dirpath, "part-00000.parquet")
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"doc_id": [1], "text": ["a b"]})),
        part,
    )
    return part


def test_tok_dir_changes_when_part_file_replaced_in_place(tmp_path):
    """Replacing a part file IN PLACE (same name — e.g. cp over a fixture)
    leaves the directory stat unchanged, so the r10 dir-stat cache key
    served stale tokens; the key must cover the part-file listing."""
    sf = str(tmp_path / "sf")
    corpus = os.path.join(sf, "documents.parquet")
    part = _write_corpus(corpus)
    d1 = _tok_dir(sf)
    # rewrite the same part file with different bytes (mtime/size move on
    # the FILE, not the directory entry)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d e"]})
        ),
        part,
    )
    os.utime(part, ns=(os.stat(part).st_atime_ns, os.stat(part).st_mtime_ns + 1))
    d2 = _tok_dir(sf)
    assert d1 != d2


def test_tok_dir_changes_when_nested_part_file_replaced(tmp_path):
    """ADVICE r11: for a PARTITIONED layout the part files live one level
    down; a top-level-only listing stats the partition subdirectory,
    whose size/mtime do not change on an in-place rewrite inside it —
    the key must walk recursively."""
    sf = str(tmp_path / "sf")
    corpus = os.path.join(sf, "documents.parquet")
    os.makedirs(corpus, exist_ok=True)
    part = _write_corpus(os.path.join(corpus, "lang=en"))
    d1 = _tok_dir(sf)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d e"]})
        ),
        part,
    )
    os.utime(part, ns=(os.stat(part).st_atime_ns, os.stat(part).st_mtime_ns + 1))
    # freeze the subdirectory's own stat to the exact stale scenario
    assert _tok_dir(sf) != d1


def test_tok_dir_ignores_hidden_and_marker_files(tmp_path):
    sf = str(tmp_path / "sf")
    corpus = os.path.join(sf, "documents.parquet")
    _write_corpus(corpus)
    d1 = _tok_dir(sf)
    open(os.path.join(corpus, "_SUCCESS"), "w").close()
    open(os.path.join(corpus, ".crc-junk"), "w").close()
    assert _tok_dir(sf) == d1


def test_publish_failure_raises_with_spark(spark, tmp_path, monkeypatch):
    import pytest

    import event_store_spark.plans.tokenized as tok

    sf = str(tmp_path / "sf")
    _write_corpus(os.path.join(sf, "documents.parquet"))
    final = _tok_dir(sf)
    shutil.rmtree(final, ignore_errors=True)

    real_rename = os.rename

    def boom(src, dst):
        raise OSError("simulated rename failure")

    monkeypatch.setattr(tok.os, "rename", boom)
    with pytest.raises(OSError, match="simulated rename failure"):
        tok.tokenized_docs(spark, sf)
    # and the loser-of-a-race path still succeeds quietly: final exists
    monkeypatch.setattr(tok.os, "rename", real_rename)
    df = tok.tokenized_docs(spark, sf)
    assert df.count() == 1


def test_streaming_tokenized_ingest_matches_batch_projection(spark, tmp_path):
    """The streaming maintainer's tokenized table must equal the batch
    projection over the same rows regardless of micro-batch cuts, and a
    replayed source under the same checkpoint must not duplicate
    (overwrite-by-batch-id) — the typed_ingest contract, for documents."""
    from pyspark.sql import functions as F

    from event_store_spark.plans.tokenized import tokenized_projection
    from event_store_spark.streaming.tokenized_ingest import (
        TokenizedDocsMaterializer,
    )
    from event_store_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "src")
    n = docs.count()
    half = n // 2
    docs.orderBy("doc_id").limit(half).coalesce(1).write.mode("append").parquet(src)
    docs.orderBy(F.col("doc_id").desc()).limit(n - half).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    mat = TokenizedDocsMaterializer(
        spark, str(tmp_path / "tok"), str(tmp_path / "ck")
    )
    q = mat.start(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q.awaitTermination(240)

    want = sorted(
        (r.doc_id, tuple(r.w), tuple(r.th), tuple(r.g3))
        for r in tokenized_projection(docs).collect()
    )
    got = sorted(
        (r.doc_id, tuple(r.w), tuple(r.th), tuple(r.g3))
        for r in mat.table().select("doc_id", "w", "th", "g3").collect()
    )
    assert got == want

    # replay the whole source under the same checkpoint: no new rows
    q = mat.start(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q.awaitTermination(240)
    assert mat.table().count() == n
