# -*- coding: utf-8 -*-
"""Streaming parity (availableNow drain == batch)."""
import os


def test_stream_mentions_equals_batch(spark, corpus_dir, tmp_path):
    from webstruct_spark.operators.extract import mentions
    from webstruct_spark.streaming.extract_stream import (
        read_turn_stream,
        run_available_now,
        stream_mentions,
    )

    import shutil

    # file streams read directories of arriving files
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    shutil.copy(
        os.path.join(corpus_dir, "transcripts.parquet"),
        os.path.join(src, "part-000.parquet"),
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_turn_stream(spark, src)
    run_available_now(stream_mentions(stream), out, ckpt)

    got = sorted(
        map(tuple, spark.read.parquet(out)
            .select("conv_id", "turn_idx", "mention_idx", "text",
                    "entity_type").collect())
    )
    want = sorted(
        map(tuple, mentions(spark.read.parquet(src))
            .select("conv_id", "turn_idx", "mention_idx", "text",
                    "entity_type").collect())
    )
    assert got == want


def test_stream_windowed_counts(spark, corpus_dir, tmp_path):
    from webstruct_spark.streaming.extract_stream import (
        mention_type_counts,
        read_turn_stream,
        run_available_now,
    )

    import shutil

    src = str(tmp_path / "arrivals2")
    os.makedirs(src)
    shutil.copy(
        os.path.join(corpus_dir, "transcripts.parquet"),
        os.path.join(src, "part-000.parquet"),
    )
    out = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt2")
    stream = read_turn_stream(spark, src)
    run_available_now(mention_type_counts(stream), out, ckpt)
    rows = spark.read.parquet(out).collect()
    assert rows and all(r["n_mentions"] > 0 for r in rows)
    types = {r["entity_type"] for r in rows}
    assert "ORG" in types and "CITY" in types
