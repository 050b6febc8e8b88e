"""Relation-aware pipeline tests — importance goldens + neighbor-concat
coverage invariants, modeled on reference
``tests/test_blockers.py:289-348``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from klinker_spark.blockers.composite import (
    CompositeRelationalTokenBlocker,
    filter_with_unique,
)
from klinker_spark.blockers.relation_aware import (
    SimpleRelationalTokenBlocker,
    concat_neighbor_attributes,
    count_entities,
    filter_importance,
    name_importance,
    relation_importance,
)
from klinker_spark.blockers.unique_name import UniqueNameBlocker

from conftest import blocks_as_dict


@pytest.fixture(scope="module")
def rels_a(spark):
    # a-side KG edges: a1 -knows-> a3, a2 -knows-> a3, a4 -likes-> a5
    return spark.createDataFrame(
        [("a1", "knows", "a3"), ("a2", "knows", "a3"), ("a4", "likes", "a5")],
        ["head", "rel", "tail"],
    )


@pytest.fixture(scope="module")
def rels_b(spark):
    return spark.createDataFrame(
        [("b1", "knows", "b3"), ("b4", "likes", "b5")], ["head", "rel", "tail"]
    )


def test_count_entities(frame_a, rels_a):
    assert count_entities(frame_a.attrs, rels_a) == 5


def test_relation_importance(spark, rels_a):
    imp = {r["rel"]: r["importance"] for r in relation_importance(rels_a, 5).collect()}
    # knows: rel_count=2, tail_count=2 -> support=2/25, disc=1
    assert imp["knows"] == pytest.approx(2 * (2 / 25) / (2 / 25 + 1))
    assert imp["likes"] == pytest.approx(2 * (1 / 25) / (1 / 25 + 1))


def test_name_importance(frame_a):
    imp = {r["prop"]: r["importance"] for r in name_importance(frame_a.attrs, 5).collect()}
    # Occupation: 4 non-null rows -> support 4/5, disc 1 -> 2*(0.8)/(1.8)
    assert imp["Occupation"] == pytest.approx(2 * 0.8 / 1.8)
    assert imp["Name"] == pytest.approx(1.0)


def test_filter_importance_top1(spark, rels_a):
    # knows more important than likes; a4 only has likes -> kept (its own top-1)
    imp = relation_importance(rels_a, 5)
    kept = filter_importance(rels_a, imp, 1, "rel", "head")
    got = {(r["head"], r["rel"]) for r in kept.collect()}
    assert got == {("a1", "knows"), ("a2", "knows"), ("a4", "likes")}


def test_concat_neighbor_attributes_coverage(frame_a, rels_a):
    conc = concat_neighbor_attributes(frame_a, rels_a, include_own_attributes=True)
    got = {r["id"]: r["text"] for r in conc.collect()}
    # every entity that appears in attrs or as an edge endpoint is covered
    assert set(got) == {"a1", "a2", "a3", "a4", "a5"}
    # a1's text includes its neighbor a3's values (via knows edge)
    assert "Rebecca" in got["a1"] and "Bulgaria" in got["a1"]
    # a3 gets its in-neighbors' values via the inverse edge
    assert "John" in got["a3"] and "Maggie" in got["a3"]


def test_concat_neighbor_without_own(frame_a, rels_a):
    conc = concat_neighbor_attributes(frame_a, rels_a, include_own_attributes=False)
    got = {r["id"]: r["text"] for r in conc.collect()}
    # only entities with at least one edge appear
    assert set(got) == {"a1", "a2", "a3", "a4", "a5"}
    # a1 sees only neighbor values, not its own
    assert "Rebecca" in got["a1"] and "John McExample" not in got["a1"]


def test_simple_relational_token_blocker(frame_a, frame_b, rels_a, rels_b):
    bm = SimpleRelationalTokenBlocker().assign(frame_a, frame_b, rels_a, rels_b)
    got = blocks_as_dict(bm)
    # b1 -knows-> b3 pulls rebecca/bulgaria onto b1; a3 has them natively,
    # and a1/a2 get them via their knows-edges to a3.
    assert got["rebecca"][0] >= {"a1", "a2", "a3"}
    assert "b1" in got["rebecca"][1] and "b3" in got["rebecca"][1]


def test_relational_lsh_blockers(frame_a, frame_b, rels_a, rels_b):
    # reference surface parity: SimpleRelationalMinHashLSHBlocker /
    # RelationalMinHashLSHBlocker (relation_aware.py:359-388 / :432-470).
    # identical enriched text must co-block; determinism under the seed
    from klinker_spark.blockers.relation_aware import (
        RelationalMinHashLSHBlocker,
        SimpleRelationalMinHashLSHBlocker,
    )

    simple = SimpleRelationalMinHashLSHBlocker(threshold=0.3, num_perm=32)
    bm1 = simple.assign(frame_a, frame_b, rels_a, rels_b)
    pairs1 = {tuple(r) for r in bm1.pairs().collect()}
    # a3/b3 share name+bday+country text; their knows-neighbors inherit it
    assert ("a3", "b3") in pairs1
    bm2 = simple.assign(frame_a, frame_b, rels_a, rels_b)
    assert pairs1 == {tuple(r) for r in bm2.pairs().collect()}

    split = RelationalMinHashLSHBlocker(
        attr_threshold=0.3, attr_num_perm=32, rel_threshold=0.5, rel_num_perm=32
    )
    bm3 = split.assign(frame_a, frame_b, rels_a, rels_b)
    assert ("a3", "b3") in {tuple(r) for r in bm3.pairs().collect()}


def test_filter_with_unique(frame_a, frame_b):
    unique = UniqueNameBlocker().assign(frame_a, frame_b)
    rest = filter_with_unique(frame_a.attrs, unique, "A")
    rest_ids = {r["id"] for r in rest.select("id").distinct().collect()}
    # a1 (11-12-1973), a2 (02-02-1983), a3 (Bulgaria) are uniquely covered;
    # a4/a5 have no value that is unique on both sides
    assert rest_ids == {"a4", "a5"}


def test_composite_blocker_runs(frame_a, frame_b, rels_a, rels_b):
    bm = CompositeRelationalTokenBlocker().assign(frame_a, frame_b, rels_a, rels_b)
    got = blocks_as_dict(bm)
    # unique-name pass contributes its high-precision blocks
    assert got["11-12-1973"] == ({"a1"}, {"b1"})
    # overall recall: pairs must include the obvious matches
    pairs = {tuple(r) for r in bm.pairs().collect()}
    assert ("a1", "b1") in pairs and ("a3", "b3") in pairs


def test_hybrid_composite_embedding_blocker(frame_a, frame_b, rels_a, rels_b):
    """Named E6 class: unique pass + token attrs + hash-embedding kNN
    relation branch — every left entity ends up in some block."""
    from klinker_spark.blockers import CompositeEmbeddingBlocker

    bm = CompositeEmbeddingBlocker().assign(frame_a, frame_b, rels_a, rels_b)
    pairs = bm.block_pairs()
    assert pairs.count() > 0
    lids = {r["left_id"] for r in pairs.select("left_id").distinct().collect()}
    assert lids  # non-degenerate


def test_hybrid_composite_deepblocker(frame_a, frame_b, rels_a, rels_b):
    from klinker_spark.blockers import CompositeRelationalDeepBlocker

    bm = CompositeRelationalDeepBlocker(out_dim=4, in_dim=16, k=2).assign(
        frame_a, frame_b, rels_a, rels_b
    )
    assert bm.block_pairs().count() > 0


def test_hybrid_composite_lightea(frame_a, frame_b, rels_a, rels_b):
    """Graph variant: LightEA hops-only embeddings, unique-covered
    entities filtered AFTER encoding, kNN blocks on the rest."""
    from klinker_spark.blockers import CompositeLightEABlocker
    from klinker_spark.blockers.unique_name import UniqueNameBlocker

    bm = CompositeLightEABlocker(depth=1, dim=8, k=2).assign(
        frame_a, frame_b, rels_a, rels_b
    )
    pairs = {(r["left_id"], r["right_id"]) for r in bm.pairs().collect()}
    assert pairs
    # unique-name pairs are preserved by the combine
    uniq = {(r["left_id"], r["right_id"])
            for r in UniqueNameBlocker().assign(frame_a, frame_b).pairs().collect()}
    assert uniq <= pairs


def _skewed_kg(spark):
    """Relation-side blocks shaped like ``test_purge_keeps_small_blocks``:
    20 one-to-one twin tokens, 10 one-to-two ones, and one token
    ("hubtoken") every entity reaches through a neighbor — the purge
    threshold lands at 2 comparisons, so the hub block must go."""
    from klinker_spark.data.frames import EntityFrame

    left = [(f"l{i}", f"key{i:02d}x") for i in range(30)]
    left += [(f"t{i}", f"twin{i:02d}x") for i in range(30)] + [("lhub", "hubtoken")]
    right = [(f"r{i}", f"key{i:02d}x") for i in range(30)]
    right += [(f"s{i}", f"key{i:02d}x") for i in range(20, 30)]
    right += [(f"u{i}", f"twin{i:02d}x") for i in range(30)] + [("rhub", "hubtoken")]
    lrel = [(f"l{i}", n) for i in range(30) for n in ("lhub", f"t{i}")]
    rrel = [(f"r{i}", n) for i in range(30) for n in ("rhub", f"u{i}")]
    rrel += [(f"s{i}", n) for i in range(20, 30) for n in ("rhub", f"u{i}")]

    def frame(rows, name):
        return EntityFrame.from_wide(spark.createDataFrame(rows, "id string, name string"), name=name)

    def rels(rows):
        return spark.createDataFrame(
            [(h, "near", t) for h, t in rows], "head string, rel string, tail string"
        )

    return frame(left, "L"), frame(right, "R"), rels(lrel), rels(rrel)


def test_relational_blockers_honor_inner_purge(spark):
    """An inner blocker's ``purge=True`` applies to the blocks the
    relational blockers build from neighbor text, exactly as an
    explicit ``purge()`` of the unpurged result would."""
    from klinker_spark.blockers.relation_aware import (
        RelationalBlocker,
        SimpleRelationalBlocker,
    )
    from klinker_spark.blockers.token import TokenBlocker

    lf, rf, lrel, rrel = _skewed_kg(spark)
    plain = SimpleRelationalBlocker(TokenBlocker()).assign(lf, rf, lrel, rrel)
    expected = blocks_as_dict(plain.purge(cc_round=0))
    assert "hubtoken" in blocks_as_dict(plain)
    assert "hubtoken" not in expected
    got = SimpleRelationalBlocker(TokenBlocker(purge=True, cc_round=0)).assign(
        lf, rf, lrel, rrel
    )
    assert blocks_as_dict(got) == expected

    rel = RelationalBlocker(TokenBlocker(), TokenBlocker(purge=True, cc_round=0)).assign(
        lf, rf, lrel, rrel
    )
    # the relation side's oversized hub block (neighbor text) is purged;
    # only the attribute side's own-name block survives the combine
    assert blocks_as_dict(rel)["hubtoken"] == ({"lhub"}, {"rhub"})
