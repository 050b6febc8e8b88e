"""Relation-aware blocking — enrich each entity's text with its graph
neighbors' attribute values before blocking.

Reference: ``/root/reference/src/klinker/blockers/relation_aware.py``
(count_entities ``:65-73`` = A3, importance scores ``:76-103`` = A4/A5,
top-n filter ``:106-153`` = W1, ``concat_neighbor_attributes``
``:156-247`` = E3 with the neighbor join J3, blocker classes
``:250-631`` = E4).

Plan shape of the full pipeline (SimpleRelationalTokenBlocker, the
paper's headline method): inverse-edge union (narrow) → optional
broadcast-joined importance filter (aggregate is tiny: one row per
relation/property) → neighbor equi-join on ``tail = id`` (the one big
shuffle) → re-concat per head (second shuffle) → token blocking.
Catalyst broadcasts the importance tables automatically; the neighbor
join is the scale-critical edge×text join and shuffles on the entity id
— the natural co-partitioning key for every later stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..data.frames import EntityFrame, concat_frames, reverse_rel
from .base import Blocker, SchemaAgnosticBlocker
from .token import TokenBlocker

__all__ = [
    "count_entities",
    "relation_importance",
    "name_importance",
    "graph_statistics",
    "filter_importance",
    "concat_neighbor_attributes",
    "SimpleRelationalBlocker",
    "SimpleRelationalTokenBlocker",
    "RelationalBlocker",
    "RelationalTokenBlocker",
    "SimpleRelationalMinHashLSHBlocker",
    "RelationalMinHashLSHBlocker",
]


def count_entities(attrs: DataFrame, rels: DataFrame) -> int:
    """Distinct entities over union(attr ids, rel heads, rel tails)
    (A3, ``relation_aware.py:65-73``).  At 100 TB scale swap ``count``
    for ``approx_count_distinct`` — importance only needs magnitude.
    """
    return (
        attrs.select(F.col("id").alias("e"))
        .unionByName(rels.select(F.col("head").alias("e")))
        .unionByName(rels.select(F.col("tail").alias("e")))
        .distinct()
        .count()
    )


def _harmonic(support, discriminability):
    return 2 * (support * discriminability) / (support + discriminability)


def relation_importance(rels: DataFrame, num_entities: int) -> DataFrame:
    """Per-relation importance (A4, ``relation_aware.py:85-92``):
    support = count(rel)/n², discriminability = count(tail)/count(rel)
    (non-null count, *not* distinct — pandas named-agg semantics),
    importance = harmonic mean.  Output: ``(rel, importance)``.
    """
    counted = rels.groupBy("rel").agg(
        F.count("rel").alias("rel_count"), F.count("tail").alias("tail_count")
    )
    support = F.col("rel_count") / (num_entities**2)
    disc = F.col("tail_count") / F.col("rel_count")
    return counted.select("rel", _harmonic(support, disc).alias("importance"))


def name_importance(attrs: DataFrame, num_entities: int) -> DataFrame:
    """Per-property importance (A5, ``relation_aware.py:95-103``):
    support = count(id)/n, discriminability = count(value)/count(prop).
    Output: ``(prop, importance)``.
    """
    counted = attrs.groupBy("prop").agg(
        F.count("id").alias("head_count"),
        F.count("prop").alias("rel_count"),
        F.count("value").alias("tail_count"),
    )
    support = F.col("head_count") / num_entities
    disc = F.col("tail_count") / F.col("rel_count")
    return counted.select("prop", _harmonic(support, disc).alias("importance"))


def graph_statistics(rels: DataFrame, num_entities: int | None = None) -> DataFrame:
    """Per-relation stats on DISTINCT instance pairs (A11,
    ``/root/reference/src/klinker/graph_statistics.py:11-58`` — the
    genuinely-distinct variant, vs :func:`relation_importance`'s
    non-null-count pandas semantics): support = n_pairs/n²,
    discriminability = n_objects/n_pairs, importance = harmonic mean.

    ``num_entities=None`` folds the distinct-entity count into the plan
    as a cross-joined single-row aggregate (one broadcast row) instead
    of a separate driver action — the whole statistic is then one job.

    Output: ``(rel, n_pairs, n_subjects, n_objects, importance)``.
    """
    per = rels.groupBy("rel").agg(
        F.countDistinct(F.struct("head", "tail")).alias("n_pairs"),
        F.countDistinct("head").alias("n_subjects"),
        F.countDistinct("tail").alias("n_objects"),
    )
    if num_entities is None:
        n_df = (
            rels.select(F.col("head").alias("e"))
            .union(rels.select("tail"))
            .distinct()
            .agg(F.count("*").alias("_n"))
        )
        per = per.crossJoin(F.broadcast(n_df))
        n_sq = F.col("_n").cast("double") * F.col("_n").cast("double")
    else:
        n_sq = F.lit(float(num_entities) ** 2)
    support = F.col("n_pairs") / n_sq
    disc = F.col("n_objects") / F.col("n_pairs")
    return per.select(
        "rel", "n_pairs", "n_subjects", "n_objects", _harmonic(support, disc).alias("importance")
    )


def filter_importance(
    triples: DataFrame, importance: DataFrame, top_n: int, key_col: str, group_col: str
) -> DataFrame:
    """Keep each group's triples whose key is among the group's top-n
    most important keys (W1, ``relation_aware.py:106-153``).

    ``dense_rank`` over the per-group *distinct* key scores mirrors the
    reference's ``drop_duplicates().nlargest(top_n)`` (ties at the
    boundary keep all tied keys — deterministic, vs pandas' arbitrary
    keep-first).  The importance table is one row per key: Catalyst
    broadcast-joins it, so the only shuffle is the window's partition
    by group.
    """
    joined = triples.join(F.broadcast(importance), key_col, "left")
    w = Window.partitionBy(group_col).orderBy(F.col("importance").desc())
    return (
        joined.withColumn("_rank", F.dense_rank().over(w))
        .where(F.col("_rank") <= top_n)
        .drop("_rank", "importance")
    )


def concat_neighbor_attributes(
    frame: EntityFrame,
    rels: DataFrame,
    include_own_attributes: bool = True,
    top_n_a: int | None = None,
    top_n_r: int | None = None,
) -> DataFrame:
    """Per-entity concat of its *neighbors'* attribute text → ``(id, text)``
    (E3, ``relation_aware.py:156-247``).

    Steps: add inverse edges (P7+U1) → optional property/relation
    importance filters (A4/A5 + W1) → per-entity attr concat (P3) →
    edge ⨝ neighbor-text on ``tail = id`` (J3, inner: the reference's
    left-join + dropna) → optionally union own text as
    ``dummy_relation`` pseudo-triples (P8) → re-concat per head (P3).
    """
    attrs = frame.attrs
    with_inv = concat_frames([rels, reverse_rel(rels)])

    num_entities = None
    if top_n_a:
        num_entities = count_entities(attrs, rels)
        attrs = filter_importance(
            attrs, name_importance(attrs, num_entities), top_n_a, "prop", "id"
        )
    if top_n_r:
        if num_entities is None:
            num_entities = count_entities(attrs, rels)
        with_inv = filter_importance(
            with_inv, relation_importance(rels, num_entities), top_n_r, "rel", "head"
        )

    own_text = frame.with_attrs(attrs).concat_values()  # (id, text)

    # Own attributes ride along as self-loop edges instead of a second
    # pass over own_text: one join + one aggregate for the whole blob,
    # and own_text is consumed exactly once (no recompute of the
    # concat aggregation across two union branches).
    if include_own_attributes:
        self_loops = own_text.select(
            F.col("id").alias("head"),
            F.lit("dummy_relation").alias("rel"),
            F.col("id").alias("tail"),
        )
        with_inv = concat_frames([with_inv, self_loops])

    neighbor_triples = with_inv.join(
        own_text.withColumnRenamed("id", "tail"), "tail", "inner"
    ).select(F.col("head").alias("id"), F.col("rel").alias("prop"), F.col("text").alias("value"))

    # Re-tokenizing consumers make this set-semantics safe; split/flatten
    # dedups tokens across neighbor blobs like the reference's final
    # concat_values over the pseudo-triple frame.
    return EntityFrame(neighbor_triples, frame.name).concat_values()


class _ConcatRelationalInfo:
    def __init__(self, top_n_a: int | None = None, top_n_r: int | None = None):
        self.top_n_a = top_n_a
        self.top_n_r = top_n_r

    def _conc(self, frame: EntityFrame, rels: DataFrame, include_own: bool) -> DataFrame:
        return concat_neighbor_attributes(
            frame,
            rels,
            include_own_attributes=include_own,
            top_n_a=self.top_n_a,
            top_n_r=self.top_n_r,
        )


class SimpleRelationalBlocker(_ConcatRelationalInfo, Blocker):
    """One blocker over own+neighbor text (``relation_aware.py:296-328``)."""

    def __init__(
        self,
        blocker: SchemaAgnosticBlocker,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(top_n_a, top_n_r)
        self._blocker = blocker

    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        assert left_rel is not None and right_rel is not None
        return self._blocker._assign_purged(
            self._conc(left, left_rel, True),
            self._conc(right, right_rel, True),
            left.name,
            right.name,
        )


class SimpleRelationalTokenBlocker(SimpleRelationalBlocker):
    """The paper's headline method (``relation_aware.py:331-360``)."""

    def __init__(
        self,
        min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(TokenBlocker(min_token_length=min_token_length), top_n_a, top_n_r)


class RelationalBlocker(_ConcatRelationalInfo, Blocker):
    """Separate attr/rel blockers, combined (``relation_aware.py:391-437``).

    Attribute blocks come from own values only; relation blocks from
    neighbor values only (``include_own_attributes=False``); results are
    merged per block key (J5).
    """

    def __init__(
        self,
        attribute_blocker: SchemaAgnosticBlocker,
        relation_blocker: SchemaAgnosticBlocker,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(top_n_a, top_n_r)
        self._attribute_blocker = attribute_blocker
        self._relation_blocker = relation_blocker

    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        assert left_rel is not None and right_rel is not None
        attr_blocks = self._attribute_blocker.assign(left, right)
        rel_blocks = self._relation_blocker._assign_purged(
            self._conc(left, left_rel, False),
            self._conc(right, right_rel, False),
            left.name,
            right.name,
        )
        return attr_blocks.combine(rel_blocks)


class RelationalTokenBlocker(RelationalBlocker):
    """Token/token variant (``relation_aware.py:506-538``)."""

    def __init__(
        self,
        attr_min_token_length: int = 3,
        rel_min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(
            TokenBlocker(min_token_length=attr_min_token_length),
            TokenBlocker(min_token_length=rel_min_token_length),
            top_n_a,
            top_n_r,
        )


class SimpleRelationalMinHashLSHBlocker(SimpleRelationalBlocker):
    """LSH on own+neighbor concatenated text
    (``relation_aware.py:359-388``); one MinHash banding pass over the
    enriched text, same reference defaults (threshold 0.5, 128 perms).
    """

    def __init__(
        self,
        threshold: float = 0.5,
        num_perm: int = 128,
        weights: tuple[float, float] = (0.5, 0.5),
        min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        from .lsh import MinHashLSHBlocker

        super().__init__(
            MinHashLSHBlocker(
                threshold=threshold,
                num_perm=num_perm,
                weights=weights,
                min_token_length=min_token_length,
            ),
            top_n_a,
            top_n_r,
        )


class RelationalMinHashLSHBlocker(RelationalBlocker):
    """Separate attr/rel LSH passes, combined
    (``relation_aware.py:432-470``; reference defaults rel_threshold
    0.7 — neighbor text must be *more* similar than own text to
    block together).
    """

    def __init__(
        self,
        attr_threshold: float = 0.5,
        attr_num_perm: int = 128,
        attr_weights: tuple[float, float] = (0.5, 0.5),
        rel_threshold: float = 0.7,
        rel_num_perm: int = 128,
        rel_weights: tuple[float, float] = (0.5, 0.5),
        min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        from .lsh import MinHashLSHBlocker

        super().__init__(
            MinHashLSHBlocker(
                threshold=attr_threshold,
                num_perm=attr_num_perm,
                weights=attr_weights,
                min_token_length=min_token_length,
            ),
            MinHashLSHBlocker(
                threshold=rel_threshold,
                num_perm=rel_num_perm,
                weights=rel_weights,
                min_token_length=min_token_length,
            ),
            top_n_a,
            top_n_r,
        )
