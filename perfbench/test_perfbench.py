"""Tests of the benchmark itself (run from the repository root):

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark: a few minutes in all."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = 0.02


def _files(d: pathlib.Path) -> dict[str, bytes]:
    return {str(f.relative_to(d)): f.read_bytes() for f in sorted(d.rglob("*")) if f.is_file()}


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_generator_is_deterministic(tmp_path, workload):
    gen.generate(workload, 7, tmp_path / "a", TINY)
    gen.generate(workload, 7, tmp_path / "b", TINY)
    gen.generate(workload, 8, tmp_path / "c", TINY)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a["candidates.parquet"] != c["candidates.parquet"]
    assert any(k.startswith("warc/") for k in a)


def test_generated_pages_cover_every_span_kind(tmp_path):
    spec, cands, robots, docs = gen.build("crawl_graph", 3, 0.2)
    kinds = {s["kind"] for d in gen.public_docs(docs) for s in d["spans"]}
    assert kinds == {"title", "paragraph", "section_header", "link", "text_formatting", "media"}
    assert {r["host"] for r in robots} >= {c["url"].strip().split("/")[2].lower().split(":")[0]
                                           for c in cands if "://" in c["url"]}


def test_benchmark_json_names_match_the_code():
    import run

    assert {w["name"] for w in BENCH["workloads"]} <= set(gen.SPECS)
    assert [m["name"] for m in BENCH["per_layer"]] == list(run.LAYER_TARGETS)
    assert {m["name"] for m in BENCH["end_to_end"]} >= {"setup_s", "wall_s"}


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace), "--scale", str(TINY)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _units(out: dict) -> dict:
    return {k: v["unit"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_smoke_run_passes_output_checks(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert _units(out) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_smoke_run_prints_every_layer_metric():
    out = _run("harvest_docs", 1)
    assert out["correct"]
    assert _units(out) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
