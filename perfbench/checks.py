"""Output checks, computed in DuckDB from the files the program read and
wrote.  None of them is timed.

The tokenize and purge SQL follow the DuckDB oracles of
``klinker_spark/queries/relational.py`` (``_TOKENS_SQL``, the
``purge_blocks`` oracle): lowercase, split on ``[^a-z0-9]+``, keep
tokens of length ≥ 3 that are not stopwords, one key per entity; purge
walks blocks in ``(comparisons, block_key)`` order and cuts at the first
cardinality where the cumulative assignments/comparisons ratio, rounded
to 2 places, stops changing.
"""

from __future__ import annotations

import importlib.util

import duckdb

_PURGE_SQL = """
  sized AS (SELECT block_key, count(*) FILTER (WHERE side = 'L') nl,
                   count(*) FILTER (WHERE side = 'R') nr
            FROM ref_raw GROUP BY 1 HAVING nl > 0 AND nr > 0),
  cum AS (SELECT *, sum(nl + nr) OVER w AS cum_assign, sum(nl * nr) OVER w AS cum_comp,
                 lag(nl * nr) OVER (ORDER BY nl * nr, block_key) AS prev_card
          FROM sized
          WINDOW w AS (ORDER BY nl * nr, block_key
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
  cc AS (SELECT *, round(cum_assign * 1.0 / cum_comp, 2) AS cc_val FROM cum),
  cc2 AS (SELECT *, lag(cc_val) OVER (ORDER BY nl * nr, block_key) AS prev_cc FROM cc),
  thresh AS (SELECT coalesce(min(nl * nr), 4611686018427387904) t FROM cc2
             WHERE cc_val = prev_cc AND nl * nr > prev_card),
  kept AS (SELECT block_key FROM sized, thresh WHERE nl * nr <= t)
"""


def _check_oracle():
    """``scripts/check_oracle.py`` as a module (it is not a package)."""
    spec = importlib.util.spec_from_file_location("check_oracle", "scripts/check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _stop_sql() -> str:
    from klinker_spark.functions.text import STOPWORDS

    return ", ".join(f"'{s}'" for s in STOPWORDS)


def _side_keys_sql(side: str, attrs: str, tokens: bool) -> str:
    """``(block_key, side, id)`` assignments of one side: its tokens, or
    its ``year`` values."""
    if not tokens:
        return (
            f"SELECT DISTINCT value AS block_key, '{side}' AS side, id FROM {attrs}"
            " WHERE prop = 'year' AND value IS NOT NULL"
        )
    return f"""
      SELECT DISTINCT tok AS block_key, '{side}' AS side, id FROM (
        SELECT id, unnest(regexp_split_to_array(lower(value), '[^a-z0-9]+')) tok
        FROM {attrs} WHERE value IS NOT NULL)
      WHERE length(tok) >= 3 AND tok NOT IN ({_stop_sql()})"""


def duckdb_blocks_check(
    paths: dict[str, str],
    block_dir: str,
    counts: tuple[int, int],
    tokens: bool,
    purge: bool,
    exact: bool,
) -> dict:
    """Check one pipeline item's written blocks; raise AssertionError on
    a mismatch.  ``counts`` is ``Evaluation``'s (comparisons, true
    positives).  Returns ``purge_before``/``purge_after`` comparison
    sums for purged exact configs."""
    con = duckdb.connect()
    try:
        for t, p in paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        con.execute(
            f"CREATE VIEW blocks AS SELECT * FROM read_parquet('{block_dir}/*.parquet')"
        )
        recount = con.execute(
            """
            WITH pairs AS (SELECT DISTINCT l, r FROM (
                     SELECT l, unnest(kg2) r FROM (SELECT unnest(kg1) l, kg2 FROM blocks)))
            SELECT (SELECT count(*) FROM pairs),
                   (SELECT count(*) FROM pairs JOIN gold ON l = left_id AND r = right_id)
            """
        ).fetchone()
        if tuple(recount) != tuple(counts):
            raise AssertionError(
                f"{block_dir}: Evaluation (comparisons, tp) = {counts}, "
                f"DuckDB recount from the blocks parquet = {tuple(recount)}"
            )
        if not exact:
            return {}
        raw = (
            _side_keys_sql("L", "left_attrs", tokens)
            + " UNION ALL "
            + _side_keys_sql("R", "right_attrs", tokens)
        )
        con.execute(f"CREATE TEMP TABLE ref_raw AS {raw}")
        kept = _PURGE_SQL if purge else """
          sized AS (SELECT block_key, count(*) FILTER (WHERE side = 'L') nl,
                           count(*) FILTER (WHERE side = 'R') nr
                    FROM ref_raw GROUP BY 1 HAVING nl > 0 AND nr > 0),
          kept AS (SELECT block_key FROM sized)"""
        diff, before, after = con.execute(
            f"""
            WITH {kept},
            ref AS (SELECT * FROM ref_raw WHERE block_key IN (SELECT block_key FROM kept)),
            got AS (SELECT block_key, 'L' side, unnest(kg1) id FROM blocks
                    UNION ALL SELECT block_key, 'R', unnest(kg2) FROM blocks)
            SELECT (SELECT count(*) FROM (SELECT * FROM ref EXCEPT SELECT * FROM got))
                 + (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM ref)),
                   (SELECT sum(nl * nr) FROM sized),
                   (SELECT sum(nl * nr) FROM sized WHERE block_key IN (SELECT block_key FROM kept))
            """
        ).fetchone()
        if diff:
            raise AssertionError(
                f"{block_dir}: {diff} block assignments differ from the DuckDB reference"
            )
        return {"purge_before": int(before or 0), "purge_after": int(after or 0)} if purge else {}
    finally:
        con.close()


def lane_check(con, name: str, sdf, oracle_sql: str | None) -> str:
    """Collect a lane's result and compare it with its DuckDB oracle by
    ``value_hash`` (``scripts/check_oracle.py``); a lane without an
    oracle must have a non-empty result.  Returns the result's value hash.  Raises AssertionError on a
    mismatch."""
    value_hash = _check_oracle().value_hash
    cols = sdf.columns
    rows = [tuple(r) for r in sdf.collect()]
    got = value_hash(rows, cols)
    if oracle_sql is None:
        if not rows:
            raise AssertionError(f"{name}: empty result")
        return got
    tbl = con.execute(oracle_sql).fetch_arrow_table()
    ocols = tbl.schema.names
    orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
    if sorted(cols) != sorted(ocols):
        raise AssertionError(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
    if len(rows) != len(orows) or got != value_hash(orows, ocols):
        raise AssertionError(
            f"{name}: {len(rows)} rows vs oracle {len(orows)}; value hash differs"
        )
    return got
