"""The registry's presentation contract: every registered query is
presented sorted on its declared `order`, and that order fixes the row
sequence the driver and tools/check_determinism.py compare by position."""

from __future__ import annotations

from collections import Counter

import duckdb

from clj_nlp_parse_spark import queries as Q

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def test_declared_order_fixes_row_order(sf_dir):
    """Over the DuckDB oracle (no Spark): each `order` column is an output
    column, and rows that tie on the order columns are whole-row
    duplicates, so sorting on `order` leaves one possible row sequence."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name, order in Q.ORDERS.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE r AS {Q.ORACLES[name]}")
        cols = [d[0] for d in con.execute("SELECT * FROM r LIMIT 0").description]
        missing = [c for c in order if c not in cols]
        if missing:
            bad[name] = f"order columns {missing} not in oracle output {cols}"
            continue
        keys = ", ".join(f'"{c}"' for c in order)
        n_keys, n_rows = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT DISTINCT {keys} FROM r)), "
            f"(SELECT count(*) FROM (SELECT DISTINCT * FROM r))").fetchone()
        if n_keys != n_rows:
            bad[name] = (f"{n_rows} distinct rows but only {n_keys} distinct "
                         f"{order}")
    assert set(Q.ORDERS) == set(Q.QUERIES)
    assert not bad, bad


def test_presentation_tail_is_what_strip_presentation_matches(spark, sf_dir):
    """perfbench's `queries.present_s` strips a root non-global Sort over a
    Repartition; a registry that presented another way (say a global
    orderBy) would make that layer read 0 instead of failing."""
    from perfbench.layers import strip_presentation

    df = Q.QUERIES["doc_stats"](spark, sf_dir)
    root = df._jdf.queryExecution().logical()
    assert root.nodeName() == "Sort"
    assert not getattr(root, "global")()
    assert root.children().apply(0).nodeName() == "Repartition"
    bare = strip_presentation(spark, df)
    assert bare is not None
    rows = df.collect()
    assert rows
    assert Counter(map(tuple, bare.collect())) == Counter(map(tuple, rows))
