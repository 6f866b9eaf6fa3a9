"""Per-table extraction: each mapped table's changes go through its own
text, metadata and key columns (config.go:61-66)."""

from __future__ import annotations


def test_run_batch_unions_multiple_table_mappings(spark):
    """config.go:61-66 parity: the reference maps MULTIPLE tables, each
    with its own id/text/metadata columns; run_batch must route each
    change to its own mapping (per-table text extraction, per-table key
    derivation) and union the points."""
    from cdc2vec_spark.cdc.pipeline import run_batch
    from cdc2vec_spark.config import EngineConfig, Mapping
    from cdc2vec_spark.embed.provider import DeterministicHashProvider

    changes = spark.createDataFrame(
        [
            ("c", "public.documents", "1", 10, "doc title", "doc body", "au"),
            ("c", "public.posts", "1", 11, "post headline", None, "ignored"),
            ("c", "public.unmapped", "9", 12, "x", "y", "z"),  # filtered out
            ("d", "public.posts", "2", 13, None, None, None),
        ],
        "op string, tbl string, pk string, lsn long, "
        "after_title string, after_content string, after_author string",
    )
    cfg = EngineConfig(
        mappings=(
            Mapping(
                table="public.documents", id_column="pk",
                text_columns=("after_title", "after_content"),
                metadata_columns=("after_author",),
            ),
            Mapping(
                table="public.posts", id_column="pk",
                text_columns=("after_title",),  # posts embed the headline only
                metadata_columns=(),
            ),
        ),
        vector_size=8,
    )
    rows = {r["id"]: r for r in run_batch(changes, cfg, DeterministicHashProvider(dim=8)).collect()}
    assert set(rows) == {
        "public.documents:1", "public.posts:1", "public.posts:2",
    }
    # per-table text columns: the doc embeds title+body, the post only
    # its headline — so identical headline text would embed identically
    prov = DeterministicHashProvider(dim=8)
    import numpy as np

    want_post = prov.embed_one("post headline")
    got_post = np.array(rows["public.posts:1"]["vector"])
    got_post = got_post * float(np.linalg.norm(want_post))  # undo L2
    assert np.allclose(got_post, want_post, atol=1e-6)
    # delete routed through with null vector
    assert rows["public.posts:2"]["op"] == "d"
    assert rows["public.posts:2"]["vector"] is None
    # per-table metadata: docs carry author, posts don't
    assert rows["public.documents:1"]["metadata"].get("after_author") == "au"
    assert "after_author" not in (rows["public.posts:1"]["metadata"] or {})
