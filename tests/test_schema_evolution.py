"""Mid-stream schema evolution (SURVEY §7).

The reference refreshes its relation cache on EVERY RelationMessage
(postgres.go:234-250), so a column added by ``ALTER TABLE .. ADD`` mid-
stream flows into ``After`` from the very next tuple. The engine's
``map<string,string>`` envelope gives the same semantics nearly for
free — these tests prove the whole path, not just the decoder:

  pgoutput frames (relation refresh) → wal2json lines → JVM decode →
  envelope ``after`` map → to_flat → build_points metadata.

Documented semantics (mirrors the reference, whose mapping YAML is
equally static):

- DECODE learns the new column immediately (relation-cache refresh);
  every downstream map consumer sees the key on post-ALTER rows and
  simply no key on pre-ALTER rows.
- A column the static ``Mapping`` ALREADY lists (configured ahead of
  the ALTER) starts flowing into text/metadata extraction with the
  first post-ALTER change — pre-ALTER rows yield NULL, which
  ``metadata_map``'s presence check drops (pipeline.go:237-240) and
  ``concat_ws`` skips.
- A column the Mapping does NOT list stays available in the envelope
  but never enters text/metadata until the operator updates the config
  — exactly the reference's behavior, whose ``text_columns``/
  ``metadata_columns`` also come from a static YAML.
- A DROPPED column stops appearing in ``after`` from the next relation
  refresh; map lookups yield NULL, so metadata silently loses the key
  and text concat skips it. A RENAME is a drop + add.
"""

from __future__ import annotations

from cdc2vec_spark.cdc import pgoutput as P
from cdc2vec_spark.cdc import postgres as pg
from cdc2vec_spark.cdc.envelope import to_flat
from cdc2vec_spark.cdc.pipeline import build_points
from cdc2vec_spark.config import Mapping
from cdc2vec_spark.embed.provider import DeterministicHashProvider

from tests.test_pgoutput import commit, ins, rel_msg, upd

OID = 5
PROV = DeterministicHashProvider(dim=8)


def _evolving_stream() -> list[P.Change]:
    """Two committed transactions around an ALTER TABLE ADD COLUMN, plus
    a third after a DROP: (id, title) → (id, title, rating) → (id, title)."""
    d = P.PgoutputDecoder()
    d.feed(rel_msg(OID, "public", "documents", ["id", "title"]))
    d.feed(ins(OID, ["1", "one"]))
    changes = d.feed(commit(0x100))
    # ALTER TABLE documents ADD COLUMN rating — pgoutput re-sends 'R'
    d.feed(rel_msg(OID, "public", "documents", ["id", "title", "rating"]))
    d.feed(ins(OID, ["2", "two", "5"]))
    d.feed(upd(OID, ["1", "one again", "4"]))
    changes += d.feed(commit(0x200))
    # ALTER TABLE documents DROP COLUMN rating
    d.feed(rel_msg(OID, "public", "documents", ["id", "title"]))
    d.feed(ins(OID, ["3", "three"]))
    changes += d.feed(commit(0x300))
    return changes


def _envelope(spark):
    lines = P.changes_to_wal2json_lines(_evolving_stream())
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return pg.wal2json_changes(df, id_column="id")


def test_added_column_flows_into_envelope(spark):
    """The new column is in ``after`` from the first post-ALTER change
    (reference: relation cache refresh, postgres.go:234-250); post-DROP
    rows lose the key again."""
    env = _envelope(spark)
    rows = {(r["pk"], r["lsn"]): r for r in env.collect()}
    assert "rating" not in rows[("1", 0x100)]["after"]   # pre-ALTER insert
    assert rows[("2", 0x200)]["after"]["rating"] == "5"  # post-ALTER insert
    assert rows[("1", 0x200)]["after"]["rating"] == "4"  # post-ALTER update
    assert "rating" not in rows[("3", 0x300)]["after"]   # post-DROP insert


def test_preconfigured_column_starts_flowing_into_points_metadata(spark):
    """A Mapping that already lists the column (config deployed ahead of
    the ALTER): pre-ALTER points carry no metadata key (NULL dropped by
    the presence check, pipeline.go:237-240); the first post-ALTER batch
    carries it — 'silently available next batch', same as the reference."""
    mapping = Mapping(
        table="public.documents",
        id_column="id",
        text_columns=("title",),
        metadata_columns=("rating",),
    )
    flat = to_flat(_envelope(spark), ["title", "rating"])
    pts = {
        (r["pk"], r["lsn"]): r
        for r in build_points(flat, mapping, PROV).collect()
    }
    assert "rating" not in pts[("1", 0x100)]["metadata"]  # pre-ALTER insert
    assert "rating" not in pts[("3", 0x300)]["metadata"]  # post-DROP: gone again
    assert pts[("2", 0x200)]["metadata"]["rating"] == "5"
    # the update that followed the ALTER re-syncs doc 1 WITH the column
    assert pts[("1", 0x200)]["metadata"]["rating"] == "4"
    assert pts[("1", 0x200)]["vector"] is not None        # text path unaffected


def test_unconfigured_column_stays_envelope_only(spark):
    """A column the static Mapping does not list never enters metadata —
    it stays available in the envelope for a config redeploy. This is reference parity: its text/metadata column lists
    are a static YAML too (config.go:61-66)."""
    mapping = Mapping(
        table="public.documents",
        id_column="id",
        text_columns=("title",),
        metadata_columns=(),
    )
    env = _envelope(spark)
    assert {r["pk"]: r for r in env.collect()}["2"]["after"]["rating"] == "5"
    flat = to_flat(env, ["title"])
    pts = build_points(flat, mapping, PROV).collect()
    assert len(pts) == 4
    for r in pts:
        assert set(r["metadata"]) == {"table", "pk"}
