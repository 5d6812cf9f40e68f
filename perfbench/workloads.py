"""The benchmark's workloads and the measurement loop they share.

Every workload is a closed loop with one client: each operation waits
for the previous one's result. A run sets the program up once, from
process start to the first timed operation, then runs one cold pass
(code generation, JIT, Python worker start), reported on its own, the
workload's unreported ``warmup_passes``, and then measured warm passes
until they add up to ``--seconds`` (at least the workload's
``measured_passes``). Outputs are checked after every pass, outside
its timing.

The program is driven only through its public functions:
``session.get_spark``, the pipeline steps and ``export_ndjson_file``,
and the registry callables of ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
import urllib.request
from dataclasses import dataclass

from statistics import fmean, median, quantiles

from harness import SparkProbe, Tracer, plan_ms, vm_hwm_mb

NPROC = len(os.sched_getaffinity(0))
# The project's catalog tables at scale factor 0.01, as the repository's
# own tests and oracle parity sweep use them (only the tables the
# registry entries below read).
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}

# Per-operation Spark counts (means over the operations of the warm
# passes of a traced run) and their units.
SPARK_LAYER = {
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.python_bytes": "bytes",
}
REST_ENDPOINTS = ("maps", "layers", "masks")
PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.warmup_s": "s",
    "setup.inputs_s": "s",
    "setup.fixtures_s": "s",
    "op.construct_s": "s",
    "op.action_s": "s",
    "op.p90_s": "s",
    **SPARK_LAYER,
    "pipeline.download_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.export_s": "s",
    "pipeline.checkpoint_bytes": "bytes",
    **{f"rest.requests.{e}": "count" for e in REST_ENDPOINTS},
    **{f"rest.fetch_amplification.{e}": "ratio" for e in REST_ENDPOINTS},
    "rest.retries": "count",
    "rest.server_busy_s": "s",
    "rest.max_inflight": "count",
    "trace.pass_s": "s",
    "trace.probe_s": "s",
}


@dataclass
class RunConfig:
    work: str  # scratch directory of this run, removed at exit
    seed: int
    seconds: float
    started: float  # perf_counter() at process start
    tracer: Tracer


class Workload:
    """Set-up, the pass loop, checks and the metrics."""

    name = ""
    # Passes after the cold one that are run and checked but not
    # measured, while the JIT is still compiling the hot paths.
    warmup_passes: int
    # The fewest measured warm passes.
    measured_passes: int

    def __init__(self, cfg: RunConfig):
        self.cfg = cfg
        self.tr = cfg.tracer
        self.spark = None
        self.probe = None
        self.setup_s = 0.0
        self.setup_parts: dict = {}
        self.passes: list[dict] = []
        self.attempted = 0
        self.failures: list[str] = []

    # Hooks for the workloads.
    def prepare_inputs(self) -> None: ...

    def prepare_fixtures(self) -> None: ...

    def run_pass(self, index: int) -> dict:
        """Run one pass; return its ``ops`` records and its ``wall_s``."""

    def check_pass(self, result: dict) -> None: ...

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # Shared machinery.
    @property
    def sf_dir(self) -> str:
        return os.path.join(self.cfg.work, "data")

    def _start_spark(self, parts: dict) -> None:
        from etl_mapwarper_spark.session import get_spark

        with self.tr.span("session.get_spark"):
            t0 = time.perf_counter()
            self.spark = get_spark(
                f"perfbench-{self.name}",
                sf_dir=self.sf_dir,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            parts["get_spark_s"] = time.perf_counter() - t0
        with self.tr.span("setup.warmup"):
            t0 = time.perf_counter()
            # The first job brings up the scheduler without touching the
            # inputs. Python workers start lazily, in the first pass of a
            # workload that uses them, as they would for a user.
            self.spark.range(1000).selectExpr("sum(id) AS s").collect()
            parts["warmup_s"] = time.perf_counter() - t0
        self.probe = SparkProbe(self.spark)

    def _setup(self) -> None:
        """Set up once. The time counts from process start, so it
        includes the interpreter's imports and the JVM launch."""
        parts = self.setup_parts
        with self.tr.span("setup"):
            self._start_spark(parts)
            with self.tr.span("setup.inputs"):
                t1 = time.perf_counter()
                self.prepare_inputs()
                parts["inputs_s"] = time.perf_counter() - t1
            with self.tr.span("setup.fixtures"):
                t1 = time.perf_counter()
                self.prepare_fixtures()
                parts["fixtures_s"] = time.perf_counter() - t1
        self.setup_s = time.perf_counter() - self.cfg.started

    def timed_op(self, op_id: str, name: str, construct, action) -> dict:
        """One operation: construct() builds, action(built) runs it.
        Returns timings, the action's result and, traced, its counts."""
        traced = self.tr.enabled
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name, False)
        first_exec = self.probe.executions_seen() if traced else 0
        rec: dict = {"op": op_id, "name": name, "ok": True}
        with self.tr.span("op", op=op_id, entry=name):
            try:
                t0 = time.perf_counter()
                with self.tr.span("construct"):
                    built = construct()
                t1 = time.perf_counter()
                w0 = time.time()
                with self.tr.span("action"):
                    rec["result"] = action(built)
                t2 = time.perf_counter()
                w1 = time.time()
            except Exception:  # noqa: BLE001 - one failed op must not end the run
                rec.update(ok=False, error=traceback.format_exc(limit=3))
                self.failures.append(f"{op_id}: exception\n{rec['error']}")
                return rec
            finally:
                sc.setJobGroup(None, None, False)
        rec.update(construct_s=t1 - t0, action_s=t2 - t1, op_s=t2 - t0)
        if traced:
            rec.update(self.probe.read(op_id, (w0, w1), first_exec))
            rec["plan_ms"] = plan_ms(built) if hasattr(built, "_jdf") else 0.0
            rec["probe_s"] = time.perf_counter() - t2
        return rec

    def execute(self) -> None:
        self._setup()
        warm_s = 0.0
        index = 0
        first_warm = 1 + self.warmup_passes
        while index < first_warm + self.measured_passes or warm_s < self.cfg.seconds:
            with self.tr.span("pass", index=index):
                result = self.run_pass(index)
            result.update(index=index, rss_mb=self._rss_mb())
            if index >= first_warm:
                warm_s += result["wall_s"]
            self.attempted += len(result["ops"])
            self.check_pass(result)
            for op in result["ops"]:
                op.pop("result", None)
            self.passes.append(result)
            index += 1
        self.peak_rss_mb = sum(self._rss_mb())

    def _rss_mb(self) -> tuple[float, float]:
        """High-water RSS of the Spark JVM and of this driver process."""
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return vm_hwm_mb(jvm_pid), vm_hwm_mb(os.getpid())

    @property
    def failed(self) -> int:
        return sum(not op["ok"] for p in self.passes for op in p["ops"])

    def _warm(self) -> list[dict]:
        return self.passes[1 + self.warmup_passes:]

    def end_to_end(self) -> dict:
        warm = self._warm()
        op_times = [op["op_s"] for p in warm for op in p["ops"] if op["ok"]]
        values = {
            "setup_s": self.setup_s,
            "first_pass_s": self.passes[0]["wall_s"],
            "pass_s": median([p["wall_s"] for p in warm]),
            "op_p50_s": median(op_times),
            "peak_rss_mb": self.peak_rss_mb,
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    def per_layer(self) -> dict:
        warm = self._warm()
        ops = [op for p in warm for op in p["ops"] if op["ok"]]
        values = dict.fromkeys(PER_LAYER, 0.0)
        values["session.get_spark_s"] = self.setup_parts["get_spark_s"]
        values["setup.warmup_s"] = self.setup_parts["warmup_s"]
        values["setup.inputs_s"] = self.setup_parts["inputs_s"]
        values["setup.fixtures_s"] = self.setup_parts["fixtures_s"]
        values["op.construct_s"] = fmean([op["construct_s"] for op in ops])
        values["op.action_s"] = fmean([op["action_s"] for op in ops])
        values["op.p90_s"] = quantiles([op["op_s"] for op in ops], n=10, method="inclusive")[8]
        for key in SPARK_LAYER:
            values[key] = fmean([op[key.split(".", 1)[1]] for op in ops])
        # The tracing overhead is trace.pass_s less an untraced run's
        # pass_s; trace.probe_s is the part spent reading status stores.
        values["trace.pass_s"] = median([p["wall_s"] for p in warm])
        values["trace.probe_s"] = median(
            [sum(op.get("probe_s", 0.0) for op in p["ops"]) for p in warm]
        )
        for key in PER_LAYER:
            if key.startswith(("pipeline.", "rest.")):
                values[key] = median([p.get("layer", {}).get(key, 0.0) for p in warm])
        return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in values.items()}

    def op_records(self) -> list[dict]:
        """Every operation's timings and, when traced, its counts."""
        return [
            {"pass": p["index"], **op}
            for p in self.passes
            for op in p["ops"]
        ]

    def summary(self) -> dict:
        """Raw samples for the run-information line."""
        return {
            "setup_s": self.setup_s,
            "setup_parts": self.setup_parts,
            "passes": [
                {
                    "index": p["index"],
                    "wall_s": p["wall_s"],
                    "rss_mb": p["rss_mb"],
                    "ops": [(op["name"], op.get("op_s")) for op in p["ops"]],
                }
                for p in self.passes
            ],
            "failures": self.failures[:20],
        }


class RegistryMix(Workload):
    """Registry callables on the catalog's sf0.01 tables, in a
    seed-permuted order, each result checked against its DuckDB
    ``oracle_sql()`` twin.

    Relational entries (a scan-aggregate and a six-way join: read-only,
    time mostly fixed per query in construction, Catalyst and
    scheduling) run interleaved with LLM-data entries (batch dedup
    beside incremental admission, similarity and text scoring: executor
    CPU and shuffle, and heavy construction)."""

    name = "registry_mix"
    # The JVM spent 14 and 13 s of compiler time in the first two warm
    # passes of one run and 3.6-7.6 s in the next three; warm passes 1-2
    # took 6.7-10.1 s, passes 3-5 5.2-7.0 s. Two measured passes of
    # about 6 s fit the time allowed for all runs of the benchmark.
    warmup_passes = 2
    measured_passes = 2
    ops = (
        "q01_pricing_summary", "q05_region_revenue", "ds_llm_pipeline",
        "dd_simhash", "sim_srp_lsh_topk", "tx_quality_scores",
        "dd_bloom_incremental_fp",
    )
    tables = (
        "region", "nation", "customer", "supplier", "orders", "lineitem",
        "documents", "embeddings",
    )
    fixture_ops = ("dd_bloom_incremental_fp",)

    def __init__(self, cfg: RunConfig):
        super().__init__(cfg)
        import __spark_entry__

        self.registry = __spark_entry__.queries()
        self.oracle_sql = __spark_entry__.oracle_sql()
        missing = [n for n in self.ops if n not in self.registry or n not in self.oracle_sql]
        if missing:
            raise RuntimeError(f"registry entries or oracles missing: {missing}")
        self.order_rng = random.Random(cfg.seed)
        self.oracle_cache: dict = {}
        self._duck = None

    @property
    def sf_dir(self) -> str:
        return TABLES_DIR

    def prepare_fixtures(self) -> None:
        # Constructing these entries builds their materialized fixture
        # caches; the action is left to the passes.
        for name in self.fixture_ops:
            self.registry[name](self.spark, self.sf_dir)

    def run_pass(self, index: int) -> dict:
        from etl_mapwarper_spark.functions.dist_rank import release_ranked_cache

        order = list(self.ops)
        self.order_rng.shuffle(order)
        ops = []
        t0 = time.perf_counter()
        for name in order:
            fn = self.registry[name]
            ops.append(
                self.timed_op(
                    f"p{index}-{name}",
                    name,
                    lambda fn=fn: fn(self.spark, self.sf_dir),
                    lambda df: df.toPandas(),
                )
            )
            # Entries that rank in groups persist a relation per call;
            # the program asks callers to release it between queries.
            release_ranked_cache()
        return {"ops": ops, "wall_s": time.perf_counter() - t0}

    def _oracle(self, name: str):
        if name not in self.oracle_cache:
            if self._duck is None:
                import duckdb

                self._duck = duckdb.connect()
                self._duck.execute(f"SET threads TO {NPROC}")
                for t in self.tables:
                    path = os.path.join(self.sf_dir, f"{t}.parquet")
                    self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.oracle_cache[name] = self._duck.execute(self.oracle_sql[name]).df()
        return self.oracle_cache[name]

    def check_pass(self, result: dict) -> None:
        from oracle_utils import assert_frames_match

        for op in result["ops"]:
            if not op["ok"]:
                continue
            try:
                assert_frames_match(op["result"], self._oracle(op["name"]), op["name"])
            except AssertionError as e:
                op["ok"] = False
                self.failures.append(f"{op['op']}: oracle mismatch: {str(e)[:300]}")

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
        super().close()


class EtlCrawl(Workload):
    """The reference pipeline end to end against the fake Map Warper
    API: ``download`` (paginated crawl, mask fetch, enrichment,
    checkpoint), ``transform`` and the NDJSON export of ``objects``."""

    name = "etl_crawl"
    # The first warm pass was slower than the second in 8 of 10 runs,
    # by up to 53%. Over those ten runs the second pass alone spread by
    # 0.13 and the median of both by 0.20; a third pass would not fit
    # the time allowed for all runs of the benchmark.
    warmup_passes = 1
    measured_passes = 1
    n_maps = 100
    n_layers = 35
    maps_per_page = 25
    retries = 2
    polygon_samples = 20

    def __init__(self, cfg: RunConfig):
        super().__init__(cfg)
        from fake_api import Catalog

        self.api = None
        self.port = None
        self.catalog = Catalog(cfg.seed, self.n_maps, self.n_layers, self.maps_per_page)

    def prepare_inputs(self) -> None:
        self._stop_api()
        self.api = subprocess.Popen(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "fake_api.py"),
                "--seed", str(self.cfg.seed),
                "--maps", str(self.n_maps),
                "--layers", str(self.n_layers),
                "--maps-per-page", str(self.maps_per_page),
                "--max-conns", str(NPROC),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.api.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"fake API did not start: {line!r}")
        self.port = int(line.split()[1])

    def _stop_api(self) -> None:
        if self.api is None:
            return
        self.api.stdin.close()
        try:
            self.api.wait(timeout=15)
        except subprocess.TimeoutExpired:
            self.api.kill()
            self.api.wait(timeout=15)
        self.api.stdout.close()
        self.api = None

    def _api_get(self, path: str) -> dict:
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}{path}", timeout=30) as r:
            return json.loads(r.read())

    def _pipeline_config(self):
        from etl_mapwarper_spark.pipeline import PipelineConfig
        from etl_mapwarper_spark.sources.paginated_rest import RestSourceConfig

        base = f"http://127.0.0.1:{self.port}"
        # No politeness sleeps and no backoff: a pass measures the
        # program, not configured waits. Retries still happen. Fetch
        # concurrency is the source's default, one partition per fetch.
        fast = dict(
            requests_per_second=0.0,
            backoff_s=0.0,
            retries=self.retries,
        )
        return PipelineConfig(
            maps_source=RestSourceConfig(
                url_template=base + "/maps.json?page={page}&per_page={per_page}",
                per_page=self.catalog.maps_per_page,
                **fast,
            ),
            layers_source=RestSourceConfig(
                url_template=base + "/layers.json?page={page}&per_page={per_page}",
                per_page=self.catalog.layers_per_page,
                **fast,
            ),
            mask_source=RestSourceConfig(
                url_template=base + "/maps/{id}/mask.json", **fast
            ),
            enrich=True,
            transform_order=1,
        )

    def run_pass(self, index: int) -> dict:
        from etl_mapwarper_spark.pipeline import (
            PipelineDirs,
            download,
            export_ndjson_file,
            transform,
        )

        root = os.path.join(self.cfg.work, "etl")
        shutil.rmtree(root, ignore_errors=True)
        self._api_get("/_reset")
        cfg = self._pipeline_config()
        step0 = PipelineDirs(current=os.path.join(root, "step0_download"))
        step1 = PipelineDirs(current=os.path.join(root, "step1_transform"), previous=step0.current)
        ndjson = os.path.join(root, "objects.ndjson")
        ops = []
        pass_t0 = time.perf_counter()
        ops.append(self.timed_op(
            f"p{index}-download", "download", lambda: None,
            lambda _: download(self.spark, cfg, step0)))
        if ops[-1]["ok"]:
            ops.append(self.timed_op(
                f"p{index}-transform", "transform", lambda: None,
                lambda _: transform(self.spark, cfg, step1)))
        if ops[-1]["ok"]:
            objects = ops[-1]["result"]["objects"]
            ops.append(self.timed_op(
                f"p{index}-export", "export", lambda: None,
                lambda _: export_ndjson_file(objects, ndjson)))
        wall = time.perf_counter() - pass_t0
        stats = self._api_get("/_stats")
        layer = self._rest_layer(stats)
        for op in ops:
            layer[f"pipeline.{op['name']}_s"] = op.get("op_s", 0.0)
        layer["pipeline.checkpoint_bytes"] = _dir_bytes(step0.current)
        return {"ops": ops, "wall_s": wall, "layer": layer,
                "dirs": (step0.current, step1.current, ndjson)}

    def _rest_layer(self, stats: dict) -> dict:
        out = {}
        for e in REST_ENDPOINTS:
            d = stats["endpoints"].get(e, {"requests": 0, "ok": 0, "ok_urls": 0})
            out[f"rest.requests.{e}"] = d["requests"]
            out[f"rest.fetch_amplification.{e}"] = d["ok"] / d["ok_urls"] if d["ok_urls"] else 0.0
        # Every failed response is retried, except the last attempt of
        # a fetch that fails permanently (retries + 1 attempts each).
        r = self.retries
        out["rest.retries"] = stats["failed_transient"] + stats["failed_permanent"] * r / (r + 1)
        out["rest.server_busy_s"] = stats["busy_s"]
        out["rest.max_inflight"] = stats["max_inflight"]
        return out

    def check_pass(self, result: dict) -> None:
        import duckdb

        if len(result["ops"]) < 3 or not all(op["ok"] for op in result["ops"]):
            return  # a step failed; its exception is already recorded
        step0, step1, ndjson = result["dirs"]
        cat = self.catalog
        problems = []

        def rows(path: str, cols: str):
            return duckdb.sql(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')").fetchall()

        error_pages = {r[0] for r in rows(os.path.join(step0, "map_errors"), "page")}
        if error_pages != cat.failed_map_pages:
            problems.append(f"map_errors pages {sorted(error_pages)} != {sorted(cat.failed_map_pages)}")

        landed = cat.landed_maps()
        expect_objects = {m["id"] for m in landed if cat.fate[m["id"]] == "ok"}
        expect_logs = {m["id"] for m in landed if cat.fate[m["id"]] not in ("ok", "guard")}
        map_objects, layer_objects, geometries, n_lines = set(), set(), {}, 0
        with open(ndjson) as f:
            for line in f:
                n_lines += 1
                try:
                    obj = json.loads(line)
                except json.JSONDecodeError:
                    problems.append(f"unparseable NDJSON line {n_lines}")
                    continue
                if obj["id"].startswith("layer-"):
                    layer_objects.add(int(obj["id"][6:]))
                else:
                    map_objects.add(int(obj["id"]))
                    geometries[int(obj["id"])] = obj.get("geometry_json")
        log_ids = [r[0] for r in rows(os.path.join(step1, "logs"), "id")]
        if map_objects & set(log_ids) or len(log_ids) != len(set(log_ids)):
            problems.append("a map id is in both objects and logs, or logged twice")
        if map_objects != expect_objects:
            problems.append(f"map objects: {len(map_objects)} ids, expected {len(expect_objects)}")
        if set(log_ids) != expect_logs:
            problems.append(f"logs: {len(set(log_ids))} ids, expected {len(expect_logs)}")
        if layer_objects != {layer["id"] for layer in cat.layers}:
            problems.append("layer objects differ from the served layers")
        if n_lines != len(expect_objects) + len(cat.layers):
            problems.append(f"NDJSON has {n_lines} lines, expected {len(expect_objects) + len(cat.layers)}")
        n_rel = rows(os.path.join(step1, "relations"), "count(*)")[0][0]
        expect_rel = sum(len(m["layerIds"]) for m in landed if m["id"] in expect_objects)
        if n_rel != expect_rel:
            problems.append(f"relations {n_rel} != {expect_rel}")
        sample = random.Random(self.cfg.seed).sample(
            sorted(expect_objects & map_objects), min(self.polygon_samples, len(expect_objects & map_objects))
        )
        from fake_api import expected_polygon

        for k in sample:
            got = json.loads(geometries[k] or "null")
            ring = got["coordinates"][0] if got else []
            want = expected_polygon(k)
            if len(ring) != len(want) or any(
                abs(a - b) > 1e-6 for p, q in zip(ring, want) for a, b in zip(p, q)
            ):
                problems.append(f"map {k}: polygon is not the affine image of its mask")
                break
        if problems:
            for op in result["ops"]:
                op["ok"] = False
            self.failures += [f"p{result['index']}-{op['name']}: {'; '.join(problems)}" for op in result["ops"]]

    def close(self) -> None:
        try:
            super().close()
        finally:
            self._stop_api()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, f))
        for base, _, files in os.walk(path)
        for f in files
    )


WORKLOADS = {w.name: w for w in (EtlCrawl, RegistryMix)}
