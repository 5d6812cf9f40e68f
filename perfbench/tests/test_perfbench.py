"""Tests of the benchmark itself (not of the program).

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke runs use small subclasses of the real workloads, so they go
through the same set-up, pass loop, checks and metric code in a few
seconds of Spark time each.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import urllib.error
import urllib.request

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from fake_api import Catalog  # noqa: E402
from harness import Tracer  # noqa: E402
from workloads import EtlCrawl, RegistryMix, RunConfig  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class TinyEtl(EtlCrawl):
    n_maps = 40
    n_layers = 12
    maps_per_page = 10


class TinyRegistry(RegistryMix):
    ops = ("q01_pricing_summary", "tx_quality_scores", "dd_bloom_incremental_fp")


@pytest.fixture
def isolated_env(monkeypatch):
    """run.run() points scratch paths at its work directory; restore
    the environment afterwards."""
    for key in ("TMPDIR", "JAVA_TOOL_OPTIONS", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE",
                "PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"):
        monkeypatch.setenv(key, os.environ.get(key, ""))
        if not os.environ[key]:
            monkeypatch.delenv(key)
    yield
    import tempfile

    tempfile.tempdir = None


def _assert_schema(result: dict, section: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, m in got.items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == want[name]
        assert isinstance(m["value"], float) and math.isfinite(m["value"])
        if section == "end_to_end":
            assert m["value"] > 0, name


@pytest.mark.parametrize("cls", [TinyEtl, TinyRegistry], ids=["etl_crawl", "registry_mix"])
def test_smoke_run_prints_every_end_to_end_metric(cls, isolated_env):
    info, result, _ = run.run(cls, seed=5, seconds=0.1, trace=0)
    _assert_schema(result, "end_to_end")
    assert info["seed"] == 5 and len(info["harness_sha256"]) == 64
    for key in ("nproc", "SPARK_GRAFT_CPUS", "host_start", "host_end", "git_commit"):
        assert key in info
    assert json.loads(json.dumps(result)) == result


@pytest.mark.parametrize("cls", [TinyEtl, TinyRegistry], ids=["etl_crawl", "registry_mix"])
def test_traced_run_spans_nest_and_carry_status_counts(cls, isolated_env):
    _, result, workload = run.run(cls, seed=6, seconds=0.1, trace=1)
    _assert_schema(result, "per_layer")
    spans = workload.tr.spans
    assert spans
    for s in spans:
        assert s.end >= s.start
        if s.parent is not None:
            p = spans[s.parent]
            assert p.span_id < s.span_id
            assert p.start <= s.start and s.end <= p.end
            assert p.op is None or s.op == p.op
    names = {s.name for s in spans}
    assert {"setup", "session.get_spark", "pass", "op", "construct", "action"} <= names
    op_spans = [s for s in spans if s.name == "op"]
    children = {(spans[s.parent].span_id, s.name) for s in spans if s.parent is not None}
    for s in op_spans:
        assert (s.span_id, "construct") in children and (s.span_id, "action") in children
    ops = [op for p in workload.passes for op in p["ops"]]
    assert ops
    for op in ops:
        assert op["jobs"] >= 1 and op["stages"] >= 1 and op["tasks"] >= 1, op["op"]
        assert op["executor_run_s"] > 0, op["op"]


def _start_api(catalog_args: list[str]):
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH, "fake_api.py"), *catalog_args],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    line = proc.stdout.readline()
    assert line.startswith("PORT "), line
    return proc, int(line.split()[1])


def _stop_api(proc) -> None:
    proc.stdin.close()
    proc.wait(timeout=15)
    proc.stdout.close()
    assert proc.poll() is not None


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=10) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


def test_fake_api_faults_and_counters():
    cat = Catalog(9, 60, 12, maps_per_page=10)
    proc, port = _start_api(["--seed", "9", "--maps", "60", "--layers", "12",
                             "--maps-per-page", "10", "--max-conns", "2"])
    try:
        (bad,) = cat.failed_map_pages
        assert _get(port, f"/maps.json?page={bad}&per_page=10")[0] == 500
        assert _get(port, f"/maps.json?page={bad}&per_page=10")[0] == 500
        status, body = _get(port, "/maps.json?page=1&per_page=10")
        assert status == 200 and body["total_entries"] == 60
        assert [m["id"] for m in body["items"]] == [m["id"] for m in cat.maps[:10]]
        transient = sorted(cat.transient)
        for endpoint, part in transient:
            path = {
                "maps": f"/maps.json?page={part}&per_page=10",
                "layers": f"/layers.json?page={part}&per_page=10",
                "masks": f"/maps/{part}/mask.json",
            }[endpoint]
            assert _get(port, path)[0] == 503
            assert _get(port, path)[0] == 200
        stats = _get(port, "/_stats")[1]
        assert stats["failed_permanent"] == 2
        assert stats["failed_transient"] == len(transient)
        assert stats["endpoints"]["maps"]["per_url"][str(bad)] == 2
        _get(port, "/_reset")
        assert _get(port, "/_stats")[1]["endpoints"] == {}
        # Sixteen concurrent clients, at most --max-conns served at once.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(16) as pool:
            statuses = list(pool.map(
                lambda m: _get(port, f"/maps/{m['id']}/mask.json")[0], cat.maps[:32]))
        assert set(statuses) <= {200, 500, 503}
        assert 1 <= _get(port, "/_stats")[1]["max_inflight"] <= 2
    finally:
        _stop_api(proc)


def test_download_requests_each_layer_page_once(isolated_env, tmp_path):
    """A known crawl against the fake API: layers are fetched one
    request per page (eight-page waves until the short page), and masks
    only for the masked maps of the pages that landed."""
    from etl_mapwarper_spark.pipeline import PipelineDirs, download

    work = str(tmp_path / "work")
    run._isolate(work)
    cfg = RunConfig(work, 7, 0.1, 0.0, Tracer(False))
    workload = TinyEtl(cfg)
    try:
        workload._setup()
        workload._api_get("/_reset")
        download(workload.spark, workload._pipeline_config(),
                 PipelineDirs(current=str(tmp_path / "step0")))
        stats = workload._api_get("/_stats")
    finally:
        workload.close()
        run._shutdown_jvm()
    cat = workload.catalog
    layers = stats["endpoints"]["layers"]
    short_page = cat.n_layers // cat.layers_per_page + 1
    waves = -(-short_page // 8)
    # One request per page, plus the retry of a page that failed once.
    assert layers["per_url"] == {
        str(p): 1 + (("layers", p) in cat.transient) for p in range(1, 8 * waves + 1)
    }
    masks = stats["endpoints"]["masks"]
    assert {int(k) for k in masks["per_url"]} == cat.fetched_mask_keys()
    maps = stats["endpoints"]["maps"]
    assert set(maps["per_url"]) == {str(p) for p in range(1, cat.map_pages + 1)}


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        SPEC["command"] + ["--workload", "etl_crawl", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
