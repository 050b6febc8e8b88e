"""Registered query lanes on the generated star schema.

One item is one lane: its query function builds the DataFrame (often
firing eager jobs: size probes, checkpoints, cache fills) and the
result is written to the noop sink.  Nothing is written to disk.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys

#: The lanes timed in each pass: the benchmark's own copy, three of the
#: headline lanes of ``bench.py::BENCH_QUERIES`` plus one iterative lane.
#: All 26 headline lanes and the 4 iterative ones take 41 s per warm
#: pass and 62 s cold at sf0.01 on 4 cores, more than one run may last.
#: Each kept lane stands for a layer or mechanism the others do not
#: reach; the comment names it.
LANES = [
    "relational_token_blocking",  # the paper's headline blocker, via queries
    "eval_metrics",  # Evaluation's key-frame path (single-key Σ|bl|·|br|)
    "windowed_event_counts",  # window aggregate over events
    "pagerank_importance",  # hand-rolled fixpoint loop with checkpoints
]

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _gen_testdata():
    spec = importlib.util.spec_from_file_location("gen_testdata", "scripts/gen_testdata.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Lanes:
    """Workload: the lanes in ``lanes`` over ``gen_testdata(sf, seed)``."""

    kind = "lanes"

    def __init__(self, sf: float, lanes: list[str]):
        self.sf = sf
        self.items = list(lanes)
        self.data_dir = ""
        self.hashes: dict[str, str] = {}
        self._last = None  # the DataFrame of the last item run, for its check

    def generate(self, data_dir: str, seed: int) -> list[str]:
        self.data_dir = data_dir
        with contextlib.redirect_stdout(sys.stderr):
            _gen_testdata().generate(self.sf, data_dir, seed)
        return [os.path.join(data_dir, f"{t}.parquet") for t in _TABLES]

    def run_item(self, spark, lane: str, tracer) -> dict:
        from klinker_spark.queries import QUERIES

        with tracer.span("queries.build", lane):
            df = QUERIES[lane](spark, self.data_dir)
        with tracer.span("queries.action", lane):
            df.write.format("noop").mode("overwrite").save()
        self._last = df
        return {}

    def check_item(self, lane: str, result: dict) -> dict:
        """Collect the lane's DataFrame once more (its builder's eager
        work is reused) and compare it with the lane's DuckDB oracle by
        value hash, as ``scripts/check_oracle.py`` does; a lane without
        an oracle must be non-empty.  Raises AssertionError on a
        mismatch."""
        import duckdb

        from klinker_spark.queries import ORACLES

        from .checks import lane_check

        con = duckdb.connect()
        try:
            for t in _TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                src = f"{p}/*.parquet" if os.path.isdir(p) else p
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
            self.hashes[lane] = lane_check(con, lane, self._last, ORACLES.get(lane))
        finally:
            con.close()
        return {}
