"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The input and metric-name tests need no Spark; the tiny runs start a
local Spark session each (about a minute apiece).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _tables(tmp, seed: int) -> dict[str, str]:
    d = os.path.join(tmp, f"s{seed}")
    inputs.make_dir(d, seed, docs=120, n_events=600, n_emb=50, n_images=20)
    return {t: _digest(os.path.join(d, f"{t}.parquet"))
            for t in ("documents", "events", "embeddings", "images")}


def test_same_seed_same_inputs_other_seed_differs(tmp_path):
    a = _tables(tmp_path / "a", 5)
    b = _tables(tmp_path / "b", 5)
    c = _tables(tmp_path / "c", 6)
    assert a == b
    for t in a:
        assert a[t] != c[t], t


def test_documents_carry_the_lexicons_and_duplicates():
    props = inputs.doc_properties(inputs.documents(2000, 3))
    hits = props["lexicon_hit_rate"]
    for lex in ("positive", "negative", "negation", "quantifier", "vocab"):
        assert hits[lex] > 0.01, lex
    assert props["exact_dup_docs"] > 0
    assert 20 < props["tokens_per_doc"] < 80


def test_metric_names_and_units():
    from perfbench import layers, run
    from perfbench import workloads as W
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per == layers.metric_units()
    assert e2e["setup_s"] == "s"
    for name, unit in {**e2e, **per}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)
    assert len(set(e2e) | set(per)) == len(e2e) + len(per)
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)


def _tiny(wl):
    return dataclasses.replace(
        wl, docs=min(wl.docs, 120), events=min(wl.events, 800),
        emb=min(wl.emb, 80), images=min(wl.images, 60), check_scale=0.5)


@pytest.mark.parametrize("workload", ["annotate", "curate"])
def test_tiny_traced_run_passes_its_checks(workload):
    from perfbench import layers, run
    details, result = run.run(workload, 1, 1, True, ops_override=_tiny)
    assert result["correct"], details["failures"]
    assert result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == set(layers.metric_units())
    assert result["metrics"]["trace.coverage"]["value"] > 0.9


def test_corrupted_output_counts_as_error():
    from clj_nlp_parse_spark import queries as Q
    from perfbench import run

    def corrupt(wl):
        wl = _tiny(wl)
        ops = [dataclasses.replace(
            op, build=lambda ctx, d: Q.QUERIES["doc_stats"](ctx.spark, d)
            .where("doc_id % 7 <> 3"))
            if op.name == "doc_stats" else op for op in wl.ops]
        return dataclasses.replace(wl, ops=ops)

    details, result = run.run("annotate", 1, 1, False, ops_override=corrupt)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert details["error_rate"]["value"] > 0
    assert "doc_stats" in details["failures"]
    assert set(result["metrics"]) == set(run.END_TO_END)
