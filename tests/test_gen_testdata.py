"""The scale-bench generator must stay schema-compatible with the
driver tables — a drift here silently invalidates every scaling
measurement (registry queries would still run, but against different
column types/layouts than the driver data)."""

from __future__ import annotations

import sys

import pyarrow.parquet as pq

sys.path.insert(0, "/root/repo/tools")

DRIVER_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_generated_schemas_match_driver_tables(tmp_path):
    from gen_testdata import generate

    out = str(tmp_path / "sf0.001")
    generate(0.001, out)
    for t in TABLES:
        drv = pq.read_schema(f"{DRIVER_DIR}/{t}.parquet")
        gen = pq.read_schema(f"{out}/{t}.parquet")
        assert drv.names == gen.names, (t, drv.names, gen.names)
        for name in drv.names:
            dt, gt = drv.field(name).type, gen.field(name).type
            assert str(dt) == str(gt), (t, name, str(dt), str(gt))


def test_generated_row_counts_scale_linearly(tmp_path):
    from gen_testdata import generate

    out = str(tmp_path / "sf0.001")
    generate(0.001, out)
    for t, expect in [
        ("customer", 150),
        ("orders", 1500),
        ("events", 1000),
        ("documents", 50),
        ("embeddings", 20),
        ("region", 5),
        ("nation", 25),
    ]:
        n = pq.read_metadata(f"{out}/{t}.parquet").num_rows
        assert n == expect, (t, n, expect)


def test_documents_text_is_ascii():
    """The multimodal oracles (audio windows, frame sample) are
    char-based DuckDB SQL mirroring BYTE-level Arrow lanes — they agree
    only while documents.text is pure ASCII (substr == byte slice,
    ord == byte value; DuckDB cannot slice BLOBs). ADVICE r8: assert
    the invariant so a fixture change fails HERE, not as a far-away
    hash mismatch in the correctness gate. Checked on the driver
    correctness fixture (sf0.01 — the one the oracles run against)."""
    import pyarrow.parquet as pqt

    col = pqt.read_table("/root/testdata/sf0.01/documents.parquet", columns=["text"])
    for chunk in col.column("text").chunks:
        for v in chunk.to_pylist():
            assert v is not None and v.isascii(), (
                "documents.text contains non-ASCII content; the char-based "
                "multimodal oracles (registry_similarity: multimodal_audio_windows "
                "and the frame ops) no longer mirror the byte lanes"
            )
