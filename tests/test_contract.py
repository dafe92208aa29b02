"""Driver-contract consistency: the registry, bench list, and entry module
must stay mutually coherent (static checks, no Spark session)."""

from __future__ import annotations


def test_registry_consistency():
    import bench
    from clj_nlp_parse_spark import queries as Q
    import __spark_entry__ as E

    assert set(Q.ORACLES) == set(Q.QUERIES)
    # every bench headline query exists
    assert set(bench.HEADLINE) <= set(Q.QUERIES)
    # entry module exposes exactly the registry
    assert set(E.queries()) == set(Q.QUERIES)
    assert set(E.oracle_sql()) == set(Q.ORACLES)
    # every callable takes (spark, sf_dir)
    import inspect
    for name, fn in Q.QUERIES.items():
        assert len(inspect.signature(fn).parameters) == 2, name
    # oracle SQL strings are non-trivial and reference a known table (or
    # the committed image-stats golden fixture, the flagship's oracle side)
    tables = ("documents", "events", "embeddings", "lineitem", "orders",
              "fixtures/image_stats")
    for name, sql in Q.ORACLES.items():
        assert len(sql) > 40, name
        assert any(t in sql for t in tables), name


def test_correctness_artifact_registry_sync():
    """VERDICT r01 #4: the newest driver correctness artifact must not
    reference queries that no longer exist (ghost keys mean the registry
    drifted after the gate ran). Queries added SINCE the artifact are
    expected to be absent from it."""
    import glob
    import json

    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if not files:
        return
    data = json.load(open(files[-1]))
    from clj_nlp_parse_spark import queries as Q
    ghost = set(data) - set(Q.QUERIES)
    assert not ghost, f"correctness artifact references unknown queries: {ghost}"


def test_local_correctness_artifact_full_registry_green():
    """VERDICT r02 #4: the committed full-registry local gate artifact
    (CORRECTNESS_LOCAL_rN.json, written by `tools/check_oracle.py --json`)
    must cover EVERY registered query — the driver's 50-query sample
    rotates, so this is the only per-round record proving the whole
    registry — and every covered row must be green (oracle rows exact-match
    or an honest no_oracle rows-only pass)."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_LOCAL_r*.json")))
    assert files, "no CORRECTNESS_LOCAL_r*.json committed — run " \
        "`python tools/check_oracle.py --json CORRECTNESS_LOCAL_rN.json`"
    data = json.load(open(files[-1]))
    from clj_nlp_parse_spark import queries as Q
    missing = set(Q.QUERIES) - set(data)
    assert not missing, f"local artifact misses registered queries: {missing}"
    ghost = set(data) - set(Q.QUERIES)
    assert not ghost, f"local artifact references unknown queries: {ghost}"
    bad = {}
    for name, rec in data.items():
        if name in Q.ORACLES:
            if not (rec.get("rows_match") and rec.get("schema_match")
                    and rec.get("hash_match")):
                bad[name] = rec
        else:
            if rec.get("err") != "no_oracle" or not rec.get("spark_rows"):
                bad[name] = rec
    assert not bad, f"non-green rows in local correctness artifact: {bad}"


def test_feature_metas_match_operator_output_schemas(spark):
    """The reference's feature-metas contract (feature/lang.clj metas fns,
    README 'used directly as Weka attributes'): every meta name must be a
    column the corresponding operator actually emits — metas and operators
    cannot drift apart."""
    from clj_nlp_parse_spark import schema
    from clj_nlp_parse_spark.operators import features as FT
    df = spark.createDataFrame(
        [(1, "the fast cats are running. slow scan!")],
        "doc_id long, text string")
    outputs = {
        "pos_tag_features": set(FT.pos_tag_features(df).columns),
        "sentiment_features": set(FT.sentiment_features(df).columns),
        "token_features": set(FT.token_features(df).columns),
        "tree_features": set(FT.tree_features(df).columns),
    }
    for family, metas in schema.FEATURE_METAS.items():
        if family not in outputs:
            continue
        meta_names = {name for name, _t in metas}
        missing = meta_names - outputs[family]
        assert not missing, (family, missing)


def test_ivf_oracle_cell_pin_matches_derivation():
    """The ivf_topk oracle SQL is static, so its centroid table is pinned
    to choose_ivf_cells(<embeddings rows at the oracle sf>); if either
    the derivation rule or the sf0.01 table size changes, this fails
    before the driver's value-hash does."""
    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.operators import similarity as SIM
    import duckdb
    n = duckdb.connect().execute(
        "SELECT count(*) FROM '/root/testdata/sf0.01/embeddings.parquet'"
    ).fetchone()[0]
    assert n == Q._IVF_ORACLE_N
    # LITERAL pins (review r04: recomputing the same expression the
    # module computes is a tautology) — if a derivation rule changes,
    # these fail and force a conscious oracle regeneration
    assert len(Q._IVF_CELLS) == 16            # choose_ivf_cells(500)
    assert Q._CB_R == 3                       # choose_planes_per_band(500)
    assert Q._CB_BANDS == 2                   # choose_cosine_bands(.99, 3)
    # derived-path variant (r05): N = 500 + 50 injected dups; r MUST
    # differ from the pinned query's so the gate isn't a coincidence
    assert Q._CBD_N == 550
    assert Q._CBD_R == 4                      # choose_planes_per_band(550)
    assert Q._CBD_BANDS == 2                  # choose_cosine_bands(.99, 4)
    assert Q._CBD_R != Q._CB_R
    assert Q._IVF_CELLS == SIM._centroids(64, 16)


def test_choose_ivf_cells_rule():
    from clj_nlp_parse_spark.operators import similarity as SIM
    assert SIM.choose_ivf_cells(0) == 4          # floor
    assert SIM.choose_ivf_cells(500) == 16       # sqrt(500)~22 → 2^4
    assert SIM.choose_ivf_cells(2000) == 32      # sqrt(2000)~45 → 2^5
    assert SIM.choose_ivf_cells(10**12) == 1 << 16   # cap
    # monotone non-decreasing in N
    vals = [SIM.choose_ivf_cells(n) for n in
            (10, 100, 10**4, 10**6, 10**9, 10**12)]
    assert vals == sorted(vals)


def test_dist_zip_matches_source(tmp_path):
    """The spark-submit zip that tools/make_pyfiles.py builds carries every
    package .py byte for byte, and nothing else (review r04: a stale zip
    shipped superseded scale semantics)."""
    import importlib.util
    import os
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(root, "tools", "make_pyfiles.py"))
    mk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mk)
    z = zipfile.ZipFile(mk.build(str(tmp_path / "clj_nlp_parse_spark.zip")))
    names = set(z.namelist())
    pkg = os.path.join(root, "clj_nlp_parse_spark")
    n = 0
    for dirpath, _dirs, files in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(dirpath, f)
            arc = os.path.relpath(full, root)
            assert arc in names, f"{arc} missing from the built zip"
            assert z.read(arc) == open(full, "rb").read(), \
                f"{arc} differs in the built zip"
            n += 1
    assert n == len(names)


def test_purge_stale_scratch_age_gate(tmp_path, monkeypatch):
    """Old per-appId scratch dirs are purged; young ones (possibly a live
    concurrent session) and the current session's own dir survive."""
    import os
    import time
    from clj_nlp_parse_spark import queries as Q

    base = str(tmp_path / "image_stats_{n}")
    monkeypatch.setattr(Q, "_IMAGE_STATS_SCRATCH", base)
    old = tmp_path / "image_stats_2000_local-dead"
    young = tmp_path / "image_stats_2000_local-alive"
    mine = tmp_path / "image_stats_2000_local-me"
    for d in (old, young, mine):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
    stale = time.time() - Q._SCRATCH_TTL_S - 3600
    os.utime(old, (stale, stale))
    os.utime(mine, (stale, stale))  # own dir is kept even if old
    Q._PURGED_APPS.discard("app-me")
    Q._purge_stale_scratch(str(mine), "app-me")
    assert not old.exists()
    assert young.exists()
    assert mine.exists()
    # once-per-application (review r05): a second call from the same app
    # is a no-op even against a newly stale sibling
    old2 = tmp_path / "image_stats_2000_local-dead2"
    old2.mkdir()
    os.utime(old2, (stale, stale))
    Q._purge_stale_scratch(str(mine), "app-me")
    assert old2.exists()
    Q._PURGED_APPS.discard("app-me")
