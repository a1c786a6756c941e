"""DuckDB twins that check the benchmark's timed outputs.

Each check runs after its pass has finished, outside every timed span.
Registry queries use the registry's own oracle SQL; the pipeline task
outputs and the dedup serves are replayed here from the raw tables.
"""

from __future__ import annotations

import os

import duckdb

from columnflow_spark.hist.axes import UNDERFLOW_BIN
from columnflow_spark.pipeline_demo import HT_VARIABLE, MIN_SELECTED, QTY_CUT
from columnflow_spark.sources import table_path


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def _produce_twin(sf_dir: str, scale: float) -> str:
    """The calibrate -> select -> reduce -> produce chain as flat SQL
    (the ``pipeline_reduced_features`` oracle with the tree's price scale
    and the unrounded ht)."""
    return f"""
    SELECT l_orderkey AS okey,
           count(*) FILTER (WHERE l_quantity >= {QTY_CUT}) AS n_items,
           sum(l_extendedprice * {scale}) FILTER (WHERE l_quantity >= {QTY_CUT}) AS ht
    FROM read_parquet('{table_path(sf_dir, "lineitem")}')
    GROUP BY l_orderkey
    HAVING count(*) FILTER (WHERE l_quantity >= {QTY_CUT}) >= {MIN_SELECTED}
    """


def check_pipeline_tree(sf_dir: str, produce_dir: str, hist_dir: str, scale: float) -> list[str]:
    """Problems found in one shift tree's ``produce`` and ``hist`` outputs;
    empty when both match the twin."""
    n_bins, lo, hi = HT_VARIABLE.binning
    width = (hi - lo) / n_bins
    con = duckdb.connect()
    try:
        con.execute(f"""
        CREATE TEMP TABLE twin AS
        SELECT okey, n_items, ht,
               CASE WHEN n_items >= 6 THEN 'cat_6plus' ELSE 'cat_lt6' END AS category
        FROM ({_produce_twin(sf_dir, scale)})
        """)
        n_twin, n_prod, n_match = con.sql(f"""
        WITH prod AS (
            SELECT o_orderkey AS okey, n_items, ht, category
            FROM read_parquet('{_parquet_glob(produce_dir)}')
        )
        SELECT (SELECT count(*) FROM twin), (SELECT count(*) FROM prod),
               (SELECT count(*) FROM twin t JOIN prod p USING (okey)
                WHERE t.n_items = p.n_items AND t.category = p.category
                  AND abs(t.ht - p.ht) <= 1e-9 * greatest(1.0, abs(t.ht)))
        """).fetchone()
        problems = []
        if not n_twin == n_prod == n_match:
            problems.append(f"produce: twin={n_twin} rows, written={n_prod}, matching={n_match}")
        (n_bad,) = con.sql(f"""
        WITH want AS (
            SELECT category,
                   CASE WHEN ht < {lo} THEN {UNDERFLOW_BIN}
                        WHEN ht > {hi} THEN {n_bins}
                        WHEN ht = {hi} THEN {n_bins - 1}
                        ELSE CAST(floor((ht - {lo}) / {width}) AS INTEGER) END AS bin,
                   count(*) AS n
            FROM twin GROUP BY ALL
        ),
        got AS (
            SELECT category, bin__ht AS bin, n, sum_w, sum_w2
            FROM read_parquet('{_parquet_glob(hist_dir)}')
        )
        SELECT count(*) FROM want FULL OUTER JOIN got USING (category, bin)
        WHERE want.n IS DISTINCT FROM got.n
           OR got.sum_w IS DISTINCT FROM CAST(want.n AS DOUBLE)
           OR got.sum_w2 IS DISTINCT FROM CAST(want.n AS DOUBLE)
        """).fetchone()
        if n_bad:
            problems.append(f"hist: {n_bad} (category, bin) cells differ from the twin")
        return problems
    finally:
        con.close()


def dedup_serve_sql(sf_dir: str, history: str, batch: str) -> str:
    """Flagging replay (the ``_inc_store_oracle`` shape): ``history`` and
    ``batch`` are SQL predicates over ``doc_id`` selecting the surviving
    ingested documents and the arriving batch."""
    return f"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint
        FROM read_parquet('{table_path(sf_dir, "documents")}')
    ),
    hist AS (SELECT DISTINCT fingerprint FROM fp WHERE {history}),
    batch AS (SELECT doc_id, fingerprint FROM fp WHERE {batch}),
    flagged AS (
        SELECT b.doc_id,
               h.fingerprint IS NOT NULL AS dup_prior,
               min(b.doc_id) OVER (PARTITION BY b.fingerprint) < b.doc_id AS dup_in_batch
        FROM batch b LEFT JOIN hist h USING (fingerprint)
    )
    SELECT doc_id, dup_prior, dup_in_batch, NOT (dup_prior OR dup_in_batch) AS keep
    FROM flagged
    """


def check_dedup_store(sf_dir: str, store: str, surviving: str) -> list[str]:
    """Problems in a dedup fingerprint store: per fingerprint, the summed
    holder count must equal the number of surviving documents (``surviving``
    is a SQL predicate over ``doc_id``) that carry it."""
    con = duckdb.connect()
    try:
        (n_bad,) = con.sql(f"""
        WITH want AS (
            SELECT md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint,
                   count(*) AS cnt
            FROM read_parquet('{table_path(sf_dir, "documents")}')
            WHERE {surviving}
            GROUP BY 1
        ),
        got AS (
            SELECT fingerprint, sum(cnt) AS cnt
            FROM read_parquet('{os.path.join(store, "**", "*.parquet")}')
            GROUP BY 1 HAVING sum(cnt) <> 0
        )
        SELECT count(*) FROM want FULL OUTER JOIN got USING (fingerprint)
        WHERE want.cnt IS DISTINCT FROM got.cnt
        """).fetchone()
        return [f"store: {n_bad} fingerprints with a wrong holder count"] if n_bad else []
    finally:
        con.close()


def run_sql(sql: str, con: duckdb.DuckDBPyConnection | None = None):
    """Execute oracle SQL and return a pandas frame (``con`` holds the
    registry's table views when given)."""
    if con is not None:
        return con.sql(sql).df()
    tmp = duckdb.connect()
    try:
        return tmp.sql(sql).df()
    finally:
        tmp.close()
