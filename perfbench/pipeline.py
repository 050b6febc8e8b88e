"""The paper's blocking pipeline on a generated KG pair.

One item is one blocker config run the way a user runs it:
load → ``assign`` → (``BlockManager.purge``) → ``to_parquet`` →
``BlockManager.read_parquet`` → ``Evaluation.from_blocks``.

The blockers are driven directly, not through
``scripts/run_experiment.py``, whose ``qgram`` entry cannot be built.
``purge`` is an explicit ``BlockManager.purge()`` call, as it must be
for the relational blockers: ``SimpleRelationalBlocker`` calls its
inner blocker's ``_assign`` and so ignores ``TokenBlocker(purge=True)``.
"""

from __future__ import annotations

import os

from . import kgpair
from .checks import duckdb_blocks_check

#: config → (calls purge, has an exact DuckDB reference)
CONFIGS = {
    "token-purge": (True, True),
    "standard": (False, True),
    "embedding-knn": (False, False),
}

LEFT, RIGHT = "kg1", "kg2"


def _blocker(config: str):
    from klinker_spark.blockers import StandardBlocker, TokenBlocker
    from klinker_spark.embedding.blockbuilder import KNNBlockBuilder
    from klinker_spark.embedding.blocker import EmbeddingBlocker

    return {
        "token-purge": TokenBlocker,
        "standard": lambda: StandardBlocker("year"),
        "embedding-knn": lambda: EmbeddingBlocker(block_builder=KNNBlockBuilder(k=5)),
    }[config]()


class Pipeline:
    """Workload: every config in ``configs`` over one generated KG pair."""

    kind = "pipeline"

    def __init__(self, n_entities: int, configs: list[str]):
        self.n = n_entities
        self.items = list(configs)
        self.paths: dict[str, str] = {}
        self.block_dir = ""

    def generate(self, data_dir: str, seed: int) -> list[str]:
        self.paths = kgpair.generate(self.n, data_dir, seed)
        self.block_dir = os.path.join(os.path.dirname(data_dir), "blocks")
        return list(self.paths.values())

    def run_item(self, spark, config: str, tracer) -> dict:
        from klinker_spark.data.blocks import BlockManager
        from klinker_spark.data.frames import EntityFrame
        from klinker_spark.eval import Evaluation

        purge, _ = CONFIGS[config]
        read = spark.read.parquet
        left = EntityFrame(read(self.paths["left_attrs"]), LEFT)
        right = EntityFrame(read(self.paths["right_attrs"]), RIGHT)
        with tracer.span("blockers.assign", config):
            bm = _blocker(config).assign(left, right)
        if purge:
            with tracer.span("blocks.purge", config):
                bm = bm.purge()
        out = os.path.join(self.block_dir, config)
        with tracer.span("blocks.to_parquet", config):
            bm.to_parquet(out)
        with tracer.span("blocks.read_parquet", config):
            back = BlockManager.read_parquet(spark, out, LEFT, RIGHT)
        with tracer.span("eval.from_blocks", config):
            ev = Evaluation.from_blocks(back, read(self.paths["gold"]), self.n, self.n)
        return {
            "true_positives": ev.true_positives,
            "comparisons": ev.comparisons,
            "gold": ev.true_positives + ev.false_negatives,
            "write_bytes": _tree_bytes(out),
        }

    def check_item(self, config: str, result: dict) -> dict:
        """Untimed output checks against the blocks the item just wrote.

        Every config: DuckDB recounts distinct comparisons and true
        positives from the blocks parquet and the gold parquet; they
        must equal ``Evaluation``'s.  Exact configs: the blocks must
        also equal a DuckDB reference computed from the generated
        parquet.  (That every pass repeats the first pass's counts, which
        is all an approximate config can be held to, is checked by the
        runner for every config.)  Returns the comparisons before and
        after purge for the trace."""
        purge, exact = CONFIGS[config]
        return duckdb_blocks_check(
            self.paths,
            os.path.join(self.block_dir, config),
            (result["comparisons"], result["true_positives"]),
            tokens=config != "standard",
            purge=purge,
            exact=exact,
        )


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)
